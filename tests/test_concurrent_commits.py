"""Optimistic concurrent commits (table.commit.concurrency=optimistic).

The reference runs one leader per TableBucket — appends to different
(partition, bucket) units never serialize on each other
(server/replica/ReplicaManager.java; per-bucket LogTablet.appendAsLeader).
Here the same parallelism comes from optimistic concurrency: the fold +
fused write run OUTSIDE the table lock against a base state, and a short
validate-then-publish under the lock rejects commits whose snapshot
units an intermediate commit touched (kv.upsert_optimistic).

Strategy: deterministic interleaves via the _pre_lock_hook seam (a
concurrent commit lands after the staged write, before the lock), one
genuinely threaded run, and a serial-twin equivalence check.
"""

from __future__ import annotations

import threading
from functools import reduce

import pytest
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.sources.kv import CommitConflictError
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import BUCKET_COL, CHANGE_TYPE_COL, OFFSET_COL, Field, TableSchema


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _mk(catalog, name, partitioned=True, num_buckets=4, autoinc=False, defer=None):
    fields = [Field("k", "INT", nullable=False), Field("v", "STRING")]
    if partitioned:
        fields.insert(0, Field("p", "STRING", nullable=False))
    if autoinc:
        fields.append(Field("rid", "BIGINT", auto_increment=True))
    props = {"table.commit.concurrency": "optimistic"}
    if defer:
        props["table.snapshot.defer-commits"] = str(defer)
    schema = TableSchema(
        fields=fields,
        primary_key=(["p", "k"] if partitioned else ["k"]),
        partition_keys=(["p"] if partitioned else []),
        num_buckets=num_buckets,
        properties=props,
    )
    return create_table(catalog, "db", name, schema)


def _rows(spark, part, ks, tag):
    return spark.createDataFrame(
        [(part, k, f"{tag}{k}") for k in ks], "p string, k int, v string"
    )


def _snap(t, spark):
    cols = [f.name for f in t.schema.fields]
    return sorted(tuple(r[c] for c in cols) for r in t.snapshot(spark).collect())


def _offsets_dense(t, spark):
    """Every bucket's committed offsets are 0..n-1 dense and unique."""
    rows = (
        t.log.scan(spark)
        .groupBy(BUCKET_COL)
        .agg(
            F.min(OFFSET_COL).alias("lo"),
            F.max(OFFSET_COL).alias("hi"),
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct(OFFSET_COL).alias("dst"),
        )
        .collect()
    )
    for r in rows:
        assert r["lo"] == 0, rows
        assert r["hi"] - r["lo"] + 1 == r["cnt"] == r["dst"], rows
    return rows


def test_disjoint_partitions_interleaved(spark, catalog):
    """Writer A stages its commit, writer B commits a DIFFERENT
    partition in between (the hook), A validates and publishes on top —
    no conflict, no lost rows, dense offsets, exact metadata count."""
    t = _mk(catalog, "disjoint")
    t2 = FlussTable(catalog, "db", "disjoint")

    fired = []

    def hook():
        if not fired:
            fired.append(1)
            t2.upsert(_rows(spark, "p2", range(30), "b"))

    t.upsert(_rows(spark, "p1", range(20), "a"), _pre_lock_hook=hook)

    st = catalog.current_commit("db", "disjoint")
    assert st.version == 2 and st.snapshot_version == 2
    assert _snap(t, spark) == sorted(
        [("p1", k, f"a{k}") for k in range(20)]
        + [("p2", k, f"b{k}") for k in range(30)]
    )
    _offsets_dense(t, spark)
    assert t.log.count_from_metadata() == 50
    # lookups route through the pair-granular manifest merged across the
    # two concurrent commits
    assert t.kv.lookup(spark, {"p": "p1", "k": 3}).collect()[0]["v"] == "a3"
    assert t.kv.lookup(spark, {"p": "p2", "k": 3}).collect()[0]["v"] == "b3"


def test_shared_bucket_disjoint_pairs_shift(spark, catalog):
    """num_buckets=1 forces BOTH partitions into bucket 0: pair-disjoint
    writers contend on the offset space. The later committer's staged
    WAL is shifted above the earlier one's rows — per-bucket numbering
    stays dense, earlier committer first."""
    t = _mk(catalog, "shift", num_buckets=1)
    t2 = FlussTable(catalog, "db", "shift")

    fired = []

    def hook():
        if not fired:
            fired.append(1)
            t2.upsert(_rows(spark, "p2", range(30), "b"))

    t.upsert(_rows(spark, "p1", range(20), "a"), _pre_lock_hook=hook)

    _offsets_dense(t, spark)
    per_part = {
        r["p"]: (r["lo"], r["hi"])
        for r in t.log.scan(spark)
        .groupBy("p")
        .agg(F.min(OFFSET_COL).alias("lo"), F.max(OFFSET_COL).alias("hi"))
        .collect()
    }
    # the hook's commit published first: its rows take the lower range
    assert per_part["p2"] == (0, 29)
    assert per_part["p1"] == (30, 49)
    assert _snap(t, spark) == sorted(
        [("p1", k, f"a{k}") for k in range(20)]
        + [("p2", k, f"b{k}") for k in range(30)]
    )
    assert t.log.count_from_metadata() == 50


def test_overlapping_unit_conflicts(spark, catalog):
    """A concurrent commit to the SAME unit (same keys) must be
    detected: with retries disabled the writer raises; with retries the
    transaction re-runs against the new state and its ordering-later
    values win (the fold re-reads the seed)."""
    t = _mk(catalog, "conflict", partitioned=False)
    t2 = FlussTable(catalog, "db", "conflict")
    t.upsert(_rows(spark, "x", range(10), "seed").drop("p"))

    def hook_once():
        fired = []

        def hook():
            if not fired:
                fired.append(1)
                t2.upsert(_rows(spark, "x", range(10), "theirs").drop("p"))

        return hook

    with pytest.raises(CommitConflictError):
        t.kv.upsert_optimistic(
            _rows(spark, "x", range(10), "ours").drop("p"),
            max_retries=0,
            _pre_lock_hook=hook_once(),
        )
    # nothing half-committed by the failed attempt
    st = catalog.current_commit("db", "conflict")
    assert st.version == 2  # seed + hook's commit + nothing else
    assert _snap(t, spark) == sorted((k, f"theirs{k}") for k in range(10))

    t.upsert(_rows(spark, "x", range(10), "ours").drop("p"), _pre_lock_hook=hook_once())
    assert _snap(t, spark) == sorted((k, f"ours{k}") for k in range(10))
    _offsets_dense(t, spark)


def test_threaded_parallel_writers(spark, catalog):
    """Two real threads upsert different partitions simultaneously —
    both succeed (retries allowed), union state exact, offsets dense."""
    t = _mk(catalog, "threads")
    barrier = threading.Barrier(2)
    errs = []

    def writer(part, tag, n):
        try:
            handle = FlussTable(catalog, "db", "threads")
            barrier.wait(timeout=60)
            handle.upsert(_rows(spark, part, range(n), tag))
        except Exception as e:  # surfaces in the main thread
            errs.append(e)

    th1 = threading.Thread(target=writer, args=("p1", "a", 25))
    th2 = threading.Thread(target=writer, args=("p2", "b", 35))
    th1.start(); th2.start()
    th1.join(120); th2.join(120)
    assert not errs, errs

    st = catalog.current_commit("db", "threads")
    assert st.version == 2
    assert _snap(t, spark) == sorted(
        [("p1", k, f"a{k}") for k in range(25)]
        + [("p2", k, f"b{k}") for k in range(35)]
    )
    _offsets_dense(t, spark)
    assert t.log.count_from_metadata() == 60


def test_interleaved_equivalence_with_serial_twin(spark, catalog):
    """After a shared seed, interleaved optimistic updates to disjoint
    partitions must leave the same snapshot AND changelog states as the
    same batches applied serially (in publish order) to a twin table."""
    t = _mk(catalog, "eq_occ")
    t2 = FlussTable(catalog, "db", "eq_occ")
    twin = _mk(catalog, "eq_twin")
    # drop the concurrency property on the twin: serial reference
    twin.schema.properties["table.commit.concurrency"] = "serial"

    seed = _rows(spark, "p1", range(10), "s").unionByName(
        _rows(spark, "p2", range(10), "s")
    )
    upd_p1 = _rows(spark, "p1", range(5, 15), "u")
    upd_p2 = _rows(spark, "p2", range(5, 15), "w")

    t.upsert(seed)

    fired = []

    def hook():
        if not fired:
            fired.append(1)
            t2.upsert(upd_p2)

    # interleave: p2's update publishes first, p1's rebases on top
    t.upsert(upd_p1, _pre_lock_hook=hook)

    # serial reference in publish order
    twin.upsert(seed)
    twin.upsert(upd_p2)
    twin.upsert(upd_p1)

    assert _snap(t, spark) == _snap(twin, spark)
    ev = lambda tb: sorted(
        (r["p"], r["k"], r["v"], r[CHANGE_TYPE_COL])
        for r in tb.log.scan(spark).collect()
    )
    assert ev(t) == ev(twin)
    _offsets_dense(t, spark)


def test_autoinc_and_deferred_fall_back_to_serial(spark, catalog):
    """Table-global counters (auto-increment ids, deferred-coverage
    watermarks) cannot be minted concurrently: upsert_optimistic refuses
    them, and FlussTable.upsert routes those tables through the serial
    lock even when the property asks for optimistic."""
    ta = _mk(catalog, "auto", partitioned=False, autoinc=True)
    with pytest.raises(ValueError, match="auto-increment"):
        ta.kv.upsert_optimistic(_rows(spark, "x", range(3), "a").drop("p"))
    ta.upsert(_rows(spark, "x", range(3), "a").drop("p"))  # serial fallback
    rows = sorted((r["k"], r["rid"]) for r in ta.snapshot(spark).collect())
    assert [k for k, _ in rows] == [0, 1, 2]
    assert sorted(r for _, r in rows) == [0, 1, 2]

    td = _mk(catalog, "defer", partitioned=False, defer=3)
    with pytest.raises(ValueError, match="defer"):
        td.kv.upsert_optimistic(_rows(spark, "x", range(3), "a").drop("p"))
    td.upsert(_rows(spark, "x", range(3), "a").drop("p"))  # serial fallback
    assert _snap(td, spark) == sorted((k, f"a{k}") for k in range(3))

    # defer-commits lowered while a WAL tail is pending: the optimistic
    # route cannot fold the tail, so upsert must fall back to serial
    # (which materializes first) instead of raising
    st = catalog.current_commit("db", "defer")
    assert td.kv._tail_start(st) is not None  # tail pending
    sch = catalog.get_schema("db", "defer")
    sch.properties["table.snapshot.defer-commits"] = "1"
    catalog.set_schema("db", "defer", sch)
    td2 = FlussTable(catalog, "db", "defer")
    td2.upsert(_rows(spark, "x", [0, 5], "b").drop("p"))
    st = catalog.current_commit("db", "defer")
    assert st.snapshot_version == st.version  # tail folded, eager again
    assert _snap(td2, spark) == sorted(
        {**{k: f"a{k}" for k in range(3)}, 0: "b0", 5: "b5"}.items()
    )


def test_parallel_different_table_upserts_keep_aqe_scope(catalog, spark):
    """Two plain (serial-path) upserts to DIFFERENT tables overlapped
    from driver threads: the commit transaction's AQE-off window is a
    depth-counted session scope, so the overlap must neither corrupt
    either table's result nor leave the session's AQE setting changed
    (the naive get/set/restore it replaced could restore the other
    thread's temporary 'false')."""
    ta = _mk(catalog, "aqe_a", partitioned=False)
    tb = _mk(catalog, "aqe_b", partitioned=False)
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def w(t, tag):
        try:
            barrier.wait(timeout=30)
            for rnd in range(2):
                t.upsert(_rows(spark, "x", range(8), f"{tag}{rnd}").drop("p"))
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    th1 = threading.Thread(target=w, args=(ta, "a"))
    th2 = threading.Thread(target=w, args=(tb, "b"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errs
    # AQE restored to the pre-existing session value after both scopes
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev
    assert _snap(ta, spark) == sorted((k, f"a1{k}") for k in range(8))
    assert _snap(tb, spark) == sorted((k, f"b1{k}") for k in range(8))
    # second-round commits replayed on top of round 0: versions advanced
    assert catalog.current_commit("db", "aqe_a").version == 2
    assert catalog.current_commit("db", "aqe_b").version == 2


@pytest.mark.slow
def test_four_threaded_writers_match_serial_twin(spark, catalog):
    """After a shared seed, four threads upsert four disjoint partitions
    of an optimistic table at once; the final snapshot equals a serial
    table fed the same batches one after another."""
    parts = ["p0", "p1", "p2", "p3"]
    seed = reduce(lambda a, b: a.unionByName(b), [_rows(spark, p, range(20), "s") for p in parts])
    upd = {p: _rows(spark, p, range(10, 30), f"u{p}") for p in parts}

    t = _mk(catalog, "occ4")
    twin = _mk(catalog, "occ4_serial")
    twin.schema.properties["table.commit.concurrency"] = "serial"
    t.upsert(seed)
    twin.upsert(seed)

    barrier = threading.Barrier(len(parts))
    errs = []

    def writer(p):
        try:
            handle = FlussTable(catalog, "db", "occ4")
            barrier.wait(timeout=60)
            handle.upsert(upd[p])
        except Exception as e:  # surfaces in the main thread
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(p,)) for p in parts]
    for th in threads:
        th.start()
    for th in threads:
        th.join(300)
    assert not errs, errs
    for p in parts:
        twin.upsert(upd[p])

    assert _snap(t, spark) == _snap(twin, spark)
    _offsets_dense(t, spark)
