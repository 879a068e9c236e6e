"""Offset-bounded log scans read only the commit dirs that can hold the
requested offsets.

`LogStore.scan(start_offsets=...)` picks its commit dirs from the
catalog's per-version high-water marks (HWMs): dir `__commit=v` holds
only offsets below the HWMs recorded at commit v, and HWMs only grow
between log_floor and CURRENT, so the dirs a start already covers form
a prefix that the scan skips. These tests pin the invariant for every
log writer, the scan's equivalence with the whole-root read it replaced,
exactly-once delivery across a compaction, and the plan and job counts.
"""

from __future__ import annotations

import os
import random
import shutil
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fluss_spark import maintenance
from fluss_spark.catalog import Catalog
from fluss_spark.streaming.reader import LogStreamReader
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import BUCKET_COL, OFFSET_COL, Field, TableSchema, ddl_of


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _log_table(catalog, name, buckets=4, props=None):
    return create_table(
        catalog, "db", name,
        TableSchema(
            fields=[Field("a", "INT"), Field("b", "STRING")],
            bucket_keys=["a"],
            num_buckets=buckets,
            properties=props or {},
        ),
    )


def _pk_table(catalog, name, buckets=4, partitioned=False, props=None):
    fields = [Field("k", "INT", nullable=False), Field("v", "STRING")]
    if partitioned:
        fields.insert(0, Field("p", "STRING", nullable=False))
    return create_table(
        catalog, "db", name,
        TableSchema(
            fields=fields,
            primary_key=(["p", "k"] if partitioned else ["k"]),
            partition_keys=(["p"] if partitioned else []),
            num_buckets=buckets,
            properties=props or {},
        ),
    )


def _rows(spark, ks, tag="v"):
    return spark.createDataFrame([(k, f"{tag}{k}") for k in ks], "a int, b string")


def _kv_rows(spark, ks, tag, part=None):
    if part is None:
        return spark.createDataFrame([(k, f"{tag}{k}") for k in ks], "k int, v string")
    return spark.createDataFrame(
        [(part, k, f"{tag}{k}") for k in ks], "p string, k int, v string"
    )


def _commit_dirs(root):
    if not os.path.isdir(root):
        return []
    return sorted(e.name for e in os.scandir(root) if e.name.startswith("__commit="))


def _assert_dirs_below_hwm(t):
    """The invariant the scan's dir selection relies on: every row of
    commit dir v (both tiers, inside the fence) has __offset below
    hwm(v)[__bucket], and the HWMs never shrink across the fenced
    versions."""
    state = t.catalog.current_commit(t.db, t.name)
    local, remote = t.log.committed_dirs()
    assert local or remote
    for v, path in {**remote, **local}.items():
        hwm = t.catalog.commit_at(t.db, t.name, v).log_hwm
        for root, _dirs, files in os.walk(path):
            bucket = int(root.rsplit(f"{BUCKET_COL}=", 1)[1]) if f"{BUCKET_COL}=" in root else None
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                offs = pq.read_table(os.path.join(root, fn), columns=[OFFSET_COL])
                offs = offs.column(0).to_pylist()
                if offs:
                    assert max(offs) < int(hwm[str(bucket)]), (name, bucket, max(offs), hwm)
    prev: dict[str, int] = {}
    for v in range(state.log_floor, state.version + 1):
        hwm = t.catalog.commit_at(t.db, t.name, v).log_hwm
        assert all(int(hwm.get(b, -1)) >= int(o) for b, o in prev.items()), (v, prev, hwm)
        prev = hwm


def _oracle_rows(spark, t, cols):
    """The whole-root read the scan replaced: each tier root listed
    whole, fenced by __commit within [log_floor, CURRENT], the local
    copy winning on a tier overlap."""
    state = t.catalog.current_commit(t.db, t.name)
    schema = ddl_of(t.log.file_schema(with_commit_col=True))
    local = {int(n.split("=")[1]) for n in _commit_dirs(t.log.log_dir)}
    rows = []
    for root in (t.log.log_dir, t.log.remote_dir):
        if not _commit_dirs(root):
            continue
        df = spark.read.schema(schema).option("basePath", root).parquet(root)
        for r in df.select(*cols, "__commit").collect():
            v = r["__commit"]
            if not state.log_floor <= v <= state.version:
                continue
            if root == t.log.remote_dir and v in local:
                continue
            rows.append(tuple(r[c] for c in cols))
    return rows


def _bounded(rows, cols, start, end):
    """The per-bucket offset bounds applied row by row: a bucket missing
    from `start` reads from offset 0, one missing from `end` to its end."""
    b, o = cols.index(BUCKET_COL), cols.index(OFFSET_COL)
    return sorted(
        r for r in rows
        if (not start or r[o] >= start.get(r[b], 0))
        and (not end or r[o] < end.get(r[b], r[o] + 1))
    )


def _draw(rng, t):
    """A random offsets map: per bucket missing, 0, below log_start,
    mid-log, at or past the HWM."""
    hwm = t.log.latest_offsets()
    starts = {int(b): o for b, o in t.catalog.current_commit(t.db, t.name).log_start.items()}
    out = {}
    for b in range(t.catalog.get_schema(t.db, t.name).num_buckets + 1):
        if rng.random() < 0.2:
            continue
        hi, lo = hwm.get(b, 0), starts.get(b, 0)
        out[b] = rng.choice(
            [0, max(0, lo - rng.randint(1, 3)), lo, rng.randint(lo, max(lo, hi)), hi, hi + 2]
        )
    return out


def _build_case(spark, catalog, case):
    """A table in the named shape and the columns to compare."""
    cols = ["a", "b", BUCKET_COL, OFFSET_COL]
    if case == "mid_commit_missing_buckets":
        t = _log_table(catalog, case, buckets=6)
        t.append(_rows(spark, [0, 1]))  # leaves most buckets empty
        for i in range(3):
            t.append(_rows(spark, range(10 * i, 10 * i + 7)))
    elif case == "below_log_start":
        t = _log_table(catalog, case, props={"table.log.ttl": "1 h"})
        for i in range(4):
            t.append(_rows(spark, range(10 * i, 10 * i + 9)), commit_ts_ms=1000 * (i + 1))
        t.append(_rows(spark, range(50, 55)))
        assert maintenance.expire_log_ttl(t, spark, now_ms=3600 * 1000 + 3500) == 3
        assert any(o > 0 for o in t.log.earliest_offsets().values())
    elif case == "after_compact_log":
        t = _log_table(catalog, case)
        for i in range(4):
            t.append(_rows(spark, range(10 * i, 10 * i + 9)))
        assert maintenance.compact_log(t, spark, target_commits=2) == 4
        for i in range(4, 6):
            t.append(_rows(spark, range(10 * i, 10 * i + 9)))
    elif case == "tier_overlap":
        t = _log_table(catalog, case)
        for i in range(4):
            t.append(_rows(spark, range(10 * i, 10 * i + 9)))
        assert maintenance.tier_log(t, local_segments=2) == 2
        # a crashed cross-device move: the commit landed remotely, the
        # local copy is still there
        newest = _commit_dirs(t.log.log_dir)[-1]
        shutil.copytree(
            os.path.join(t.log.log_dir, newest), os.path.join(t.log.remote_dir, newest)
        )
        t.append(_rows(spark, range(40, 49)))
    elif case == "rebucket_floor":
        t = _log_table(catalog, case)
        for i in range(3):
            t.append(_rows(spark, range(10 * i, 10 * i + 9)))
        floor = maintenance.rebucket_table(t, spark, new_buckets=3)
        t = FlussTable(catalog, "db", case)
        # a shadowed pre-rebucket dir a crash left behind
        shutil.copytree(
            os.path.join(t.log.log_dir, f"__commit={floor}"),
            os.path.join(t.log.log_dir, f"__commit={floor - 1}"),
        )
        for i in range(3, 5):
            t.append(_rows(spark, range(10 * i, 10 * i + 9)))
    elif case == "renamed_column":
        from fluss_spark.admin import Admin, RenameColumn

        t = _log_table(catalog, case)
        for i in range(2):
            t.append(_rows(spark, range(10 * i, 10 * i + 9)))
        Admin(catalog).alter_table("db", case, [RenameColumn("b", "label")])
        t = FlussTable(catalog, "db", case)
        for i in range(2, 4):
            t.append(
                spark.createDataFrame(
                    [(k, f"v{k}") for k in range(10 * i, 10 * i + 9)], "a int, label string"
                )
            )
        # files of the first era hold `b`, not `label`: the whole-root
        # oracle cannot map them, so the renamed column is checked
        # against its written value instead
        cols = ["a", BUCKET_COL, OFFSET_COL]
    elif case == "pk_deferred":
        t = _pk_table(catalog, case, props={"table.snapshot.defer-commits": "3"})
        for i in range(4):
            t.upsert(_kv_rows(spark, range(3 * i, 3 * i + 8), f"r{i}"))
        cols = ["k", "v", "_change_type", BUCKET_COL, OFFSET_COL]
    return t, cols


CASES = [
    "mid_commit_missing_buckets",
    "below_log_start",
    "after_compact_log",
    "tier_overlap",
    "rebucket_floor",
    "renamed_column",
    "pk_deferred",
]


@pytest.mark.parametrize("case", CASES)
def test_scan_equals_whole_root_oracle(spark, catalog, case):
    """For random start/end maps the dir-selecting scan returns exactly
    the rows of the whole-root read bounded per bucket, also for end
    maps that bound every bucket (the scan then cuts the dirs after the
    first one whose HWM reaches the end)."""
    t, cols = _build_case(spark, catalog, case)
    _assert_dirs_below_hwm(t)
    rows = _oracle_rows(spark, t, cols)
    assert rows
    rng = random.Random(case)
    draws = [(None, None), ({}, None)] + [
        (_draw(rng, t), _draw(rng, t) if rng.random() < 0.5 else None) for _ in range(8)
    ]
    everywhere = {b: 0 for b in range(t.catalog.get_schema(t.db, t.name).num_buckets)}
    draws += [
        (_draw(rng, t) if rng.random() < 0.5 else None, everywhere | _draw(rng, t))
        for _ in range(6)
    ]
    renamed = ["label"] if case == "renamed_column" else []
    for start, end in draws:
        got = t.log.scan(spark, start_offsets=start, end_offsets=end)
        got = got.select(*cols, *renamed).collect()
        assert sorted(tuple(r)[: len(cols)] for r in got) == _bounded(rows, cols, start, end), (
            start, end,
        )
        if renamed:
            assert all(r["label"] == f"v{r['a']}" for r in got)


def test_time_travel_slice_reads_only_its_commit_dirs(spark, catalog):
    """Time travel to a deferred (WAL-only) version folds the changelog
    slice between the nearest manifest's HWM and the version's HWM: its
    scan reads the commit dirs inside the slice, not every dir after the
    start, and the state equals the eager table's at that version."""
    t = _pk_table(catalog, "tt_slice", props={"table.snapshot.defer-commits": "3"})
    e = _pk_table(catalog, "tt_eager")
    for i in range(5):
        for tbl in (t, e):
            tbl.upsert(_kv_rows(spark, range(3 * i, 3 * i + 8), f"r{i}"))
    # v1-v3 WAL-only, v4 the cadence materialization, v5-v6 WAL-only
    state = catalog.current_commit("db", "tt_slice")
    assert (state.version, state.snapshot_version) == (6, 4)
    kv = t.kv
    for version, dirs, eager_v in ((2, {1, 2}, 2), (5, {5}, 4), (6, {5, 6}, 5)):
        m = kv._nearest_manifest_version(version)
        start = kv.log.hwm_at(m) if m >= 0 else None
        end = {b: 0 for b in range(4)} | kv.log.hwm_at(version)
        files = kv.log.scan(spark, start_offsets=start, end_offsets=end).inputFiles()
        got = {int(f.split("__commit=")[1].split("/")[0]) for f in files}
        assert got == dirs, (version, got)
        snap = {(r["k"], r["v"]) for r in t.snapshot(spark, version=version).collect()}
        assert snap == {(r["k"], r["v"]) for r in e.snapshot(spark, version=eager_v).collect()}


def test_kv_writers_keep_commit_dirs_below_hwm(spark, catalog):
    """upsert, upsert_many, a deferred WAL-only commit and an optimistic
    commit whose staged WAL was shifted above a concurrent commit's
    offsets all keep dir v below hwm(v)."""
    t = _pk_table(catalog, "inv_kv")
    t.upsert(_kv_rows(spark, range(20), "a"))
    _assert_dirs_below_hwm(t)
    t.upsert_many([_kv_rows(spark, range(10, 30), "b"), _kv_rows(spark, range(25, 40), "c")])
    _assert_dirs_below_hwm(t)

    d = _pk_table(catalog, "inv_defer", props={"table.snapshot.defer-commits": "3"})
    d.upsert(_kv_rows(spark, range(10), "a"))
    d.upsert(_kv_rows(spark, range(5, 15), "b"))
    st = catalog.current_commit("db", "inv_defer")
    assert st.snapshot_version < st.version  # WAL-only commit
    _assert_dirs_below_hwm(d)

    # one bucket shared by two partitions: the later optimistic
    # committer's WAL is shifted above the hook's rows
    o = _pk_table(
        catalog, "inv_occ", buckets=1, partitioned=True,
        props={"table.commit.concurrency": "optimistic"},
    )
    o2 = FlussTable(catalog, "db", "inv_occ")
    fired = []

    def hook():
        if not fired:
            fired.append(1)
            o2.upsert(_kv_rows(spark, range(30), "b", part="p2"))

    o.upsert(_kv_rows(spark, range(20), "a", part="p1"), _pre_lock_hook=hook)
    got = {
        r["p"]: (r["lo"], r["hi"])
        for r in o.log.scan(spark)
        .groupBy("p")
        .agg(F.min(OFFSET_COL).alias("lo"), F.max(OFFSET_COL).alias("hi"))
        .collect()
    }
    assert got == {"p2": (0, 29), "p1": (30, 49)}
    _assert_dirs_below_hwm(o)


def test_log_writers_keep_commit_dirs_below_hwm(spark, catalog):
    """append, compact_log, tier_log, TTL expiry and rebucket_table keep
    dir v below hwm(v), with HWMs growing across the fence."""
    t = _log_table(catalog, "inv_log", props={"table.log.ttl": "1 h"})
    for i in range(5):
        t.append(_rows(spark, range(10 * i, 10 * i + 9)), commit_ts_ms=1000 * (i + 1))
        _assert_dirs_below_hwm(t)
    assert maintenance.compact_log(t, spark, target_commits=3) == 5
    _assert_dirs_below_hwm(t)
    for i in range(5, 8):
        t.append(_rows(spark, range(10 * i, 10 * i + 9)), commit_ts_ms=1000 * (i + 1))
    assert maintenance.tier_log(t, local_segments=1) == 3
    _assert_dirs_below_hwm(t)
    t.append(_rows(spark, range(80, 89)))
    assert maintenance.expire_log_ttl(t, spark, now_ms=3600 * 1000 + 7500) > 0
    _assert_dirs_below_hwm(t)
    maintenance.rebucket_table(t, spark, new_buckets=3)
    t = FlussTable(catalog, "db", "inv_log")
    _assert_dirs_below_hwm(t)
    t.append(_rows(spark, range(90, 99)))
    _assert_dirs_below_hwm(t)


@pytest.mark.slow
def test_reader_exactly_once_over_50_commits_with_compaction(spark, catalog, tmp_path):
    """A checkpointed LogStreamReader polled between 50 commits, with a
    compact_log rewriting the first half into one dir in the middle,
    delivers every appended row exactly once."""
    t = _log_table(catalog, "tail50")
    reader = LogStreamReader(
        t, spark, checkpoint_dir=str(tmp_path / "ck"), startup_mode="earliest"
    )
    delivered: list[int] = []
    for i in range(50):
        t.append(_rows(spark, range(7 * i, 7 * i + 7)))
        if i == 24:
            assert maintenance.compact_log(t, spark, target_commits=2) == 25
        if i % 3 == 2 or i == 49:
            reader.process_available(
                lambda df, _bid: delivered.extend(r["a"] for r in df.select("a").collect())
            )
    assert sorted(delivered) == list(range(350))


def test_poll_reads_only_new_commit_files(spark, catalog):
    """A poll after 50 commits plans the same files as a poll after 1
    commit — only the newest commit's bucket files — and building it
    starts no Spark job; a full scan over 50 commit dirs starts at most
    the one listing job the whole-root read started (explicit paths
    above spark.sql.sources.parallelPartitionDiscovery.threshold, 32,
    are listed in parallel)."""
    sc = spark.sparkContext

    def jobs(fn):
        group = f"log-scan-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "log scan pin")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    t = _log_table(catalog, "poll50")
    files = {}
    for i in range(50):
        start = t.latest_offsets()
        t.append(_rows(spark, range(40 * i, 40 * i + 40)))
        if i in (0, 49):
            df, n_jobs = jobs(
                lambda s=start: t.scan(spark, start_offsets=s, end_offsets=t.latest_offsets())
            )
            assert n_jobs == 0
            files[i] = df.inputFiles()
            assert df.count() == 40
    newest = t.log.commit_path(t.catalog.current_commit("db", "poll50").version)
    assert len(files[49]) == len(files[0]) == t.schema.num_buckets
    assert all(os.path.dirname(os.path.dirname(f)).endswith(newest) for f in files[49])
    full, n_jobs = jobs(lambda: t.scan(spark))
    assert n_jobs <= 1
    assert len(_commit_dirs(t.log.log_dir)) == 50 and full.count() == 2000
