"""Maintenance jobs (T10/W4/W5/M10/M11-cleanup) + bitmap functions."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.maintenance import (
    auto_partition,
    compact_log,
    expire_log_ttl,
    expire_snapshots,
)
from fluss_spark.table import create_table
from fluss_spark.types import Field, TableSchema


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def test_compaction_preserves_scans(spark, catalog):
    t = create_table(
        catalog, "db", "c_log",
        TableSchema(fields=[Field("a", "INT"), Field("b", "STRING")], num_buckets=2),
    )
    for i in range(10):
        t.append(spark.createDataFrame([(i, f"v{i}")], "a int, b string"), ordering=["a"])
    before = sorted(map(tuple, t.scan(spark).select("a", "b", "__bucket", "__offset").collect()))
    n = compact_log(t, spark, target_commits=8)
    assert n == 10
    after = sorted(map(tuple, t.scan(spark).select("a", "b", "__bucket", "__offset").collect()))
    assert before == after  # offsets and data identical, fewer files
    # appends continue with correct offsets after compaction
    t.append(spark.createDataFrame([(99, "post")], "a int, b string"))
    assert t.scan(spark).count() == 11
    assert t.count() == 11


def test_log_ttl_expiry(spark, catalog):
    t = create_table(
        catalog, "db", "ttl_log",
        TableSchema(
            fields=[Field("a", "INT")],
            num_buckets=1,
            properties={"table.log.ttl": "1d"},
        ),
    )
    day = 86_400_000
    t.append(spark.createDataFrame([(1,)], "a int"), commit_ts_ms=0)
    t.append(spark.createDataFrame([(2,)], "a int"), commit_ts_ms=1 * day)
    t.append(spark.createDataFrame([(3,)], "a int"), commit_ts_ms=3 * day)
    deleted = expire_log_ttl(t, spark, now_ms=3 * day)
    assert deleted == 2  # commits at t=0 and t=1d are beyond the 1d ttl
    assert sorted(r["a"] for r in t.scan(spark).collect()) == [3]


def test_snapshot_expiry(spark, catalog):
    t = create_table(
        catalog, "db", "snap_pk",
        TableSchema(fields=[Field("k", "INT", nullable=False), Field("v", "STRING")], primary_key=["k"], num_buckets=1),
    )
    for i in range(5):
        t.upsert(spark.createDataFrame([(1, f"v{i}")], "k int, v string"))
    removed = expire_snapshots(t, keep=2)
    assert removed == 3
    assert t.snapshot(spark).collect()[0]["v"] == "v4"


def test_auto_partition_lifecycle(spark, catalog):
    t = create_table(
        catalog, "db", "ap_log",
        TableSchema(
            fields=[Field("dt", "STRING"), Field("a", "INT")],
            partition_keys=["dt"],
            num_buckets=1,
            properties={
                "table.auto-partition.enabled": "true",
                "table.auto-partition.time-unit": "DAY",
                "table.auto-partition.num-precreate": "2",
                "table.auto-partition.num-retention": "3",
            },
        ),
    )
    t.append(spark.createDataFrame([("20260801", 1), ("20260812", 2)], "dt string, a int"))
    now = datetime(2026, 8, 13, tzinfo=timezone.utc)
    result = auto_partition(t, now=now)
    assert "20260813" in result["created"] and "20260814" in result["created"]
    # 20260801 is older than 3-day retention -> dropped, files gone
    assert sorted(r["a"] for r in t.scan(spark).collect()) == [2]


@pytest.mark.slow
def test_auto_maintenance_end_to_end(spark, catalog):
    """50 commits land with NO explicit maintenance calls: log compaction
    and TTL expiry trigger from table properties on the append path, and
    PK snapshot compaction + expiry trigger on the upsert path — file
    counts stay bounded and every read surface stays correct."""
    import os

    from fluss_spark.sources.log import COMMIT_DIR_COL

    log_t = create_table(
        catalog, "db", "auto_log",
        TableSchema(
            fields=[Field("a", "INT"), Field("b", "STRING")],
            num_buckets=2,
            properties={
                "table.log.auto-compact-commits": "10",
                "table.log.ttl": "365d",  # nothing recent expires...
                "table.log.auto-expire": "true",  # ...but the trigger runs
            },
        ),
    )
    for i in range(25):
        log_t.append(spark.createDataFrame([(i, f"v{i}")], "a int, b string"), ordering=["a"])
    n_dirs = sum(
        1 for e in os.scandir(log_t.log.log_dir) if e.name.startswith(f"{COMMIT_DIR_COL}=")
    )
    assert n_dirs <= 10  # compaction kept the commit-dir count bounded
    assert sorted(r["a"] for r in log_t.scan(spark).collect()) == list(range(25))
    assert log_t.count() == 25

    pk_t = create_table(
        catalog, "db", "auto_pk",
        TableSchema(
            fields=[Field("k", "INT", nullable=False), Field("v", "STRING")],
            primary_key=["k"],
            num_buckets=8,
            properties={
                "table.snapshot.auto-compact-dirs": "4",
                "table.snapshot.num-retained": "3",
            },
        ),
    )
    for i in range(25):
        pk_t.upsert(spark.createDataFrame([(i % 7, f"u{i}")], "k int, v string"))
    ver = catalog.current_commit("db", "auto_pk").snapshot_version
    # manifest fan-in bounded by the auto-compact threshold
    assert len(pk_t.kv.referenced_data_dirs(ver)) <= 4
    # on-disk data dirs bounded too (retention GC'd unreferenced dirs:
    # at most 3 retained manifests x <=4 dirs each)
    n_data_dirs = sum(
        1 for e in os.scandir(pk_t.kv.snapshot_dir) if e.name.startswith("data-v")
    )
    assert n_data_dirs <= 12
    snap = {r["k"]: r["v"] for r in pk_t.snapshot(spark).collect()}
    assert snap == {i % 7: f"u{max(j for j in range(25) if j % 7 == i % 7)}" for i in range(7)}
    assert pk_t.lookup(spark, {"k": 3}).collect()[0]["v"] == "u24"


def test_auto_increment(spark, catalog):
    t = create_table(
        catalog, "db", "ai_log",
        TableSchema(
            fields=[Field("id", "BIGINT", auto_increment=True), Field("b", "STRING")],
            num_buckets=3,
        ),
    )
    t.append(spark.createDataFrame([(f"r{i}",) for i in range(20)], "b string"), ordering=["b"])
    ids1 = sorted(r["id"] for r in t.scan(spark).collect())
    assert ids1 == list(range(20))  # gap-free across buckets
    t.append(spark.createDataFrame([("x",), ("y",)], "b string"))
    ids2 = sorted(r["id"] for r in t.scan(spark).collect())
    assert ids2 == list(range(22))  # counter persisted across commits


def test_bitmap_functions(spark):
    from fluss_spark.functions.bitmap import (
        rb_and,
        rb_and_agg,
        rb_build,
        rb_build_agg,
        rb_cardinality,
        rb_contains,
        rb_or,
        rb_or_agg,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("b", 2), ("b", 3)], "g string, v int"
    )
    bm = df.groupBy("g").agg(rb_build_agg(F.col("v")).alias("bm"))
    got = {r["g"]: r["bm"] for r in bm.collect()}
    assert got == {"a": [1, 2], "b": [2, 3]}
    agg = bm.agg(
        rb_or_agg(F.col("bm")).alias("u"), rb_and_agg(F.col("bm")).alias("i")
    ).collect()[0]
    assert agg["u"] == [1, 2, 3] and agg["i"] == [2]
    row = (
        spark.range(1)
        .select(
            rb_or(rb_build(F.array(F.lit(1), F.lit(2))), rb_build(F.array(F.lit(3)))).alias("o"),
            rb_and(rb_build(F.array(F.lit(1), F.lit(2))), rb_build(F.array(F.lit(2)))).alias("a"),
        )
        .select("o", "a", rb_cardinality(F.col("o")).alias("c"), rb_contains(F.col("o"), 3).alias("h"))
        .collect()[0]
    )
    assert row["o"] == [1, 2, 3] and row["a"] == [2] and row["c"] == 3 and row["h"] is True


def test_roaring_codec_golden_and_roundtrip():
    """Portable-format codec vs hand-computed spec bytes, plus
    property-tested round trips across all three container types (array,
    bitmap, run) in 32- and 64-bit streams. Cross-checked against
    pyroaring when installed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fluss_spark.functions.bitmap import HAVE_ROARING
    from fluss_spark.functions.roaring import (
        roaring32_deserialize,
        roaring32_serialize,
        roaring64_deserialize,
        roaring64_serialize,
    )

    # golden: {0} -> cookie 12346, 1 container, key 0, card-1 0, offset 16
    assert roaring32_serialize([0]).hex() == "3a3000000100000000000000" "1000000000" "00"
    # golden: {0..99} run-optimizes -> cookie 12347|0<<16, run flag byte,
    # desc (0, 99), NO offsets (n < 4), 1 run (0, 99)
    assert roaring32_serialize(range(100)).hex() == "3b300000" "01" "00006300" "010000006300"

    if HAVE_ROARING:
        from pyroaring import BitMap

        for vals in ([0], list(range(100)), [7, 65536, 1 << 20]):
            assert roaring32_serialize(vals) == BitMap(vals).serialize()
            assert roaring32_deserialize(BitMap(vals).serialize()) == sorted(set(vals))

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=(1 << 32) - 1), max_size=300),
        st.integers(min_value=0, max_value=1 << 16),
    )
    def rt32(vals, run_base):
        vals = vals + list(range(run_base, run_base + 5000))  # force big/run containers
        assert roaring32_deserialize(roaring32_serialize(vals)) == sorted(set(vals))

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=(1 << 63) - 1), max_size=200))
    def rt64(vals):
        assert roaring64_deserialize(roaring64_serialize(vals)) == sorted(set(vals))

    rt32()
    rt64()

    # dense container (card > 4096 -> 8 KiB bitmap form) round-trips
    import random

    dense = random.Random(5).sample(range(1 << 16), 9000)
    assert roaring32_deserialize(roaring32_serialize(dense)) == sorted(set(dense))


def test_multimodal_kernels(spark):
    """Multimodal plumbing: synthesize -> decode -> resize -> frame
    sample; schemas and 1:N explode shape are the production contract
    (codecs are stubbed deterministically)."""
    from fluss_spark.operators.multimodal import (
        decode_images,
        resize_images,
        sample_frames,
        synthesize_media,
    )
    from fluss_spark.registry import load_spread

    docs = load_spread(spark, "/root/testdata/sf0.001", "documents").limit(50)
    media = synthesize_media(docs)
    meta = decode_images(media)
    assert meta.columns == ["doc_id", "mime", "width", "height", "n_bytes"]
    assert meta.filter((F.col("width") < 1) | (F.col("width") > 64)).count() == 0
    resized = resize_images(media, 32, 32)
    assert resized.count() == 50 and dict(resized.dtypes)["media"] == "binary"
    frames = sample_frames(media, every_n=5)
    n = frames.count()
    assert n >= 50  # 1:N explode
    assert frames.groupBy("doc_id").count().filter("count > 4").count() == 0
    # determinism: same input -> same frame bytes
    a = sorted(r["frame"].hex() for r in frames.limit(200).collect())
    b = sorted(r["frame"].hex() for r in sample_frames(media, every_n=5).limit(200).collect())
    assert a == b


@pytest.mark.slow
def test_snapshot_manifest_compaction(spark, catalog):
    from fluss_spark.maintenance import compact_snapshot, expire_snapshots

    t = create_table(
        catalog, "db", "cmp_pk",
        TableSchema(fields=[Field("k", "INT", nullable=False), Field("v", "STRING")], primary_key=["k"], num_buckets=4),
    )
    for i in range(10):
        t.upsert(spark.createDataFrame([(i % 5, f"v{i}")], "k int, v string"))
    before = sorted(map(tuple, t.snapshot(spark).collect()))
    state = catalog.current_commit("db", "cmp_pk")
    # one dir per bucket max; single-key upserts leave ≥2 distinct dirs
    assert len(t.kv.referenced_data_dirs(state.snapshot_version)) > 1
    assert compact_snapshot(t, spark, max_dirs=1)
    state2 = catalog.current_commit("db", "cmp_pk")
    assert len(t.kv.referenced_data_dirs(state2.snapshot_version)) == 1
    assert sorted(map(tuple, t.snapshot(spark).collect())) == before
    # lookups still work against the compacted manifest
    assert t.lookup(spark, {"k": 4}).count() == 1
    # GC drops the superseded dirs
    expire_snapshots(t, keep=1)
    import os
    dirs = [e.name for e in os.scandir(t.kv.snapshot_dir) if e.name.startswith("data-v")]
    assert len(dirs) == 1
    # upserts continue after compaction
    t.upsert(spark.createDataFrame([(0, "post")], "k int, v string"))
    assert dict((r["k"], r["v"]) for r in t.snapshot(spark).collect())[0] == "post"


def test_ttl_advances_earliest_and_metadata_count(spark, catalog):
    """After TTL trims the head, earliest offsets move forward and
    count_from_metadata stays exact (hwm - start per bucket)."""
    t = create_table(
        catalog, "db", "ttl2",
        TableSchema(fields=[Field("a", "INT")], num_buckets=1,
                    properties={"table.log.ttl": "1d"}),
    )
    day = 86_400_000
    t.append(spark.createDataFrame([(1,), (2,)], "a int"), commit_ts_ms=0)
    t.append(spark.createDataFrame([(3,)], "a int"), commit_ts_ms=3 * day)
    assert t.count() == 3
    from fluss_spark.maintenance import expire_log_ttl

    assert expire_log_ttl(t, spark, now_ms=3 * day) == 1
    assert t.earliest_offsets() == {0: 2}   # first commit trimmed
    assert t.count() == 1                   # metadata count still exact
    assert sorted(r["a"] for r in t.scan(spark).collect()) == [3]
    # streaming from earliest starts at the trimmed head
    from fluss_spark.streaming.reader import LogStreamReader

    r = LogStreamReader(t, spark, startup_mode="earliest")
    got = []
    r.process_available(lambda df, bid: got.append(df.count()))
    assert sum(got) == 1


def test_staged_commit_protocol(spark, catalog):
    """Commit files are invisible until published: the log dir only ever
    holds fully committed dirs, staging lives under the hidden .tmp, and
    orphans (crashed writers) are self-healed by the next append."""
    import os
    import shutil

    t = create_table(
        catalog, "db", "staged",
        TableSchema(fields=[Field("a", "INT"), Field("b", "STRING")], num_buckets=2),
    )
    t.append(spark.createDataFrame([(1, "x")], "a int, b string"), ordering=["a"])
    log_dir = t.log.log_dir
    # nothing but committed commit dirs in log/
    assert sorted(e.name for e in os.scandir(log_dir)) == ["__commit=1"]
    assert not os.path.exists(t.log.tmp_dir) or not os.listdir(t.log.tmp_dir)

    # simulate a writer that crashed after staging (files written, never
    # renamed): scan must not see it, next append must clean it
    shutil.copytree(os.path.join(log_dir, "__commit=1"), t.log.staging_path(99))
    assert t.scan(spark).count() == 1

    # simulate a writer that crashed after rename but before the CURRENT
    # advance: dir present but version > CURRENT -> fenced by scan, then
    # removed by the next append's clean_orphans
    shutil.copytree(os.path.join(log_dir, "__commit=1"), os.path.join(log_dir, "__commit=7"))
    assert t.scan(spark).count() == 1  # __commit <= CURRENT fence

    t.append(spark.createDataFrame([(2, "y")], "a int, b string"), ordering=["a"])
    names = sorted(e.name for e in os.scandir(log_dir))
    assert names == ["__commit=1", "__commit=2"]  # orphan 7 healed
    assert not os.listdir(t.log.tmp_dir)  # staging drained
    assert t.scan(spark).count() == 2
    # offsets unaffected by the orphan: contiguous per bucket
    offs = sorted(r["__offset"] for r in t.scan(spark).select("__offset").collect())
    assert len(offs) == 2


@pytest.mark.slow
def test_auto_compaction_bounds_lookup_fanin(spark, catalog):
    """Commit-path auto-compaction: with table.snapshot.auto-compact-dirs=3,
    many small upserts must keep the manifest's distinct data-dir count
    bounded (each commit adds one dir; compaction folds them back to one
    and expires unreferenced dirs), and the data must stay correct."""
    from fluss_spark.table import create_table
    from fluss_spark.types import Field, TableSchema

    t = create_table(
        catalog, "db", "autocompact",
        TableSchema(
            fields=[Field("k", "BIGINT"), Field("v", "DOUBLE")],
            primary_key=["k"], num_buckets=4,
            properties={"table.snapshot.auto-compact-dirs": "3"},
        ),
    )
    from pyspark.sql import functions as F

    for i in range(6):
        batch = spark.range(i * 10, i * 10 + 20).select(
            F.col("id").alias("k"), (F.col("id") * 1.0 + i).alias("v"), F.col("id").alias("seq")
        )
        t.upsert(batch, ordering=["seq"])
        manifest = t.kv._manifest(
            catalog.current_commit("db", "autocompact").snapshot_version
        )
        assert len(set(manifest.values())) <= 4  # 3 + the just-added dir
    # state correct after all the folding: keys 0..69, last writer wins
    rows = {r["k"]: r["v"] for r in t.snapshot(spark).collect()}
    assert len(rows) == 70
    assert rows[10] == 10.0 + 1  # written by batch i=1 last (10..29 overlap)


def test_auto_partition_pk_table_deletes_snapshot_rows(spark, catalog):
    """auto_partition retention on a PRIMARY KEY table must delete
    expired rows through the engine (they live in the KV snapshot keyed
    by data columns), exactly like Admin.drop_partition — and must
    refuse without a Spark session rather than orphan them."""
    t = create_table(
        catalog, "db", "ap_pk",
        TableSchema(
            fields=[Field("k", "BIGINT"), Field("dt", "STRING"), Field("v", "STRING")],
            primary_key=["k", "dt"],
            bucket_keys=["k"],
            partition_keys=["dt"],
            num_buckets=2,
            properties={
                "table.auto-partition.enabled": "true",
                "table.auto-partition.time-unit": "DAY",
                "table.auto-partition.num-precreate": "1",
                "table.auto-partition.num-retention": "3",
            },
        ),
    )
    t.upsert(
        spark.createDataFrame(
            [(1, "20260801", "old"), (2, "20260812", "new")],
            "k long, dt string, v string",
        ),
        ordering=["k"],
    )
    now = datetime(2026, 8, 13, tzinfo=timezone.utc)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pass spark"):
        auto_partition(t, now=now)
    result = auto_partition(t, now=now, spark=spark)
    assert "20260801" in result["dropped"]
    # rows gone from BOTH read surfaces: snapshot and log scan
    assert {r["dt"] for r in t.snapshot(spark).collect()} == {"20260812"}
    assert {r["dt"] for r in t.scan(spark).collect()} == {"20260812"}


def test_rebucket_log_table(spark, catalog):
    """rebucket_table re-routes every row by the new bucket hash,
    reassigns contiguous 0-based offsets per new bucket, preserves
    per-key relative order, keeps A1 metadata counts exact, and future
    appends route with the new count."""
    from fluss_spark.maintenance import rebucket_table
    from fluss_spark.table import FlussTable

    t = create_table(
        catalog, "db", "rb_log",
        TableSchema(
            fields=[Field("k", "BIGINT"), Field("seq", "BIGINT")],
            bucket_keys=["k"],
            num_buckets=2,
        ),
    )
    rows = [(i % 7, i) for i in range(100)]
    t.append(spark.createDataFrame(rows[:50], "k long, seq long"), ordering=["seq"])
    t.append(spark.createDataFrame(rows[50:], "k long, seq long"), ordering=["seq"])
    rebucket_table(t, spark, 8)
    t2 = FlussTable(catalog, "db", "rb_log")
    assert t2.schema.num_buckets == 8
    got = t2.scan(spark).select("k", "seq", "__bucket", "__offset").collect()
    assert len(got) == 100
    assert t2.count() == 100  # metadata count exact after the rewrite
    # per-key order: seq ascending implies offset ascending within key
    from collections import defaultdict

    per_key = defaultdict(list)
    for r in got:
        per_key[r["k"]].append((r["seq"], r["__offset"], r["__bucket"]))
    for k, items in per_key.items():
        items.sort()
        offs = [o for _, o, _ in items]
        assert offs == sorted(offs), f"key {k} order broken"
        assert len({b for _, _, b in items}) == 1  # one bucket per key
    # offsets contiguous 0-based per bucket
    per_bucket = defaultdict(list)
    for r in got:
        per_bucket[r["__bucket"]].append(r["__offset"])
    for b, offs in per_bucket.items():
        assert sorted(offs) == list(range(len(offs)))
    # future appends route by the new count
    t2.append(spark.createDataFrame([(3, 1000)], "k long, seq long"), ordering=["seq"])
    newest = t2.scan(spark).filter(F.col("seq") == 1000).collect()[0]
    assert newest["__bucket"] == per_key[3][0][2]  # same bucket as key 3


@pytest.mark.slow
def test_rebucket_pk_table_and_stream_fence(spark, catalog, tmp_path):
    """PK rebucket rewrites the snapshot (lookups route with the new
    count immediately); streaming subscriptions across the rebucket are
    fenced by the bucket epoch, live and from checkpoints."""
    import pytest as _pytest

    from fluss_spark.maintenance import rebucket_table
    from fluss_spark.streaming.reader import LogStreamReader
    from fluss_spark.table import FlussTable

    t = create_table(
        catalog, "db", "rb_pk",
        TableSchema(
            fields=[Field("k", "BIGINT"), Field("v", "STRING")],
            primary_key=["k"],
            num_buckets=2,
        ),
    )
    t.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k long, v string"))
    t.upsert(spark.createDataFrame([(7, "v7b")], "k long, v string"))

    ckpt = str(tmp_path / "rb_ckpt")
    live = LogStreamReader(t, spark, checkpoint_dir=ckpt, startup_mode="earliest")
    assert live.process_available(lambda df, bid: None) == 1  # drain + checkpoint

    rebucket_table(t, spark, 6)
    t2 = FlussTable(catalog, "db", "rb_pk")
    assert t2.schema.num_buckets == 6
    assert {r["k"]: r["v"] for r in t2.snapshot(spark).collect()}[7] == "v7b"
    assert t2.lookup(spark, {"k": 7}).collect()[0]["v"] == "v7b"
    # changelog still replays per-key in order under the new layout
    cl = t2.changelog(spark).filter(F.col("k") == 7).orderBy("_log_offset").collect()
    assert [r["_change_type"] for r in cl] == ["+I", "-U", "+U"]
    # live reader: fenced at the next poll
    with _pytest.raises(ValueError, match="rebucketed"):
        live.poll()
    # checkpoint resume: fenced at construction
    with _pytest.raises(ValueError, match="rebucket"):
        LogStreamReader(t2, spark, checkpoint_dir=ckpt)
    # incremental upsert after rebucket lands correctly
    t2.upsert(spark.createDataFrame([(7, "v7c")], "k long, v string"))
    assert t2.lookup(spark, {"k": 7}).collect()[0]["v"] == "v7c"


@pytest.mark.slow
def test_rebucket_crash_windows_never_lose_committed_data(spark, catalog, monkeypatch):
    """ADVICE r4 (high): the old ordering deleted pre-rebucket commit
    dirs BEFORE the catalog commit — a crash in between lost committed
    data. Now log_floor advances atomically with the commit and retire
    runs last, so each crash window leaves a readable table:
      (a) crash before publish/commit -> fully-old table intact;
      (b) crash after commit but before retire -> fully-new table; the
          shadowed dirs are fenced by log_floor everywhere (scan, A1
          count, stats, lake snapshot) and TTL sweeps them as garbage."""
    import os

    import fluss_spark.maintenance as mnt
    from fluss_spark.maintenance import rebucket_table
    from fluss_spark.table import FlussTable

    t = create_table(
        catalog, "db", "rb_crash",
        TableSchema(
            fields=[Field("k", "BIGINT"), Field("v", "STRING")],
            primary_key=["k"],
            num_buckets=2,
        ),
    )
    t.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(30)], "k long, v string"))
    t.upsert(spark.createDataFrame([(5, "v5b")], "k long, v string"))

    # (a) crash during the log publish: nothing published, old state intact
    import pytest as _pytest

    def _boom(_version):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(t.log, "publish", _boom)
    with _pytest.raises(RuntimeError, match="crash before commit"):
        rebucket_table(t, spark, 6)
    monkeypatch.undo()
    ta = FlussTable(catalog, "db", "rb_crash")
    assert ta.schema.num_buckets == 2
    assert ta.snapshot(spark).count() == 30
    assert {r["k"]: r["v"] for r in ta.scan(spark).collect() if r["k"] == 5}

    # (b) crash after commit, before physical retire of shadowed dirs
    pre_scan = ta.scan(spark).count()
    monkeypatch.setattr(mnt, "_retire_shadowed_commits", lambda log, floor: None)
    rebucket_table(ta, spark, 6)
    monkeypatch.undo()
    t2 = FlussTable(catalog, "db", "rb_crash")
    state = catalog.current_commit("db", "rb_crash")
    assert state.log_floor == state.version > 0
    # shadowed old-layout dirs really are still on disk
    leftover = [
        e.name for e in os.scandir(t2.log.log_dir)
        if e.name.startswith("__commit=") and int(e.name.split("=")[1]) < state.log_floor
    ]
    assert leftover, "test setup: expected shadowed dirs to survive the 'crash'"
    # every read surface fences them
    assert t2.scan(spark).count() == pre_scan  # no double-read of old dirs
    assert t2.snapshot(spark).count() == 30
    assert t2.lookup(spark, {"k": 5}).collect()[0]["v"] == "v5b"
    from fluss_spark.admin import Admin

    admin = Admin(catalog)
    lake = admin.get_latest_lake_snapshot("db", "rb_crash")
    assert not any(f"__commit={d.split('=')[1]}" in f for d in leftover for f in lake.files)
    # TTL expiry sweeps the fenced garbage without touching log_start
    sch = catalog.get_schema("db", "rb_crash")
    sch.properties["table.log.ttl"] = "365d"
    catalog.set_schema("db", "rb_crash", sch)
    from fluss_spark.maintenance import expire_log_ttl

    expire_log_ttl(FlussTable(catalog, "db", "rb_crash"), spark)
    assert not any(
        e.name.startswith("__commit=") and int(e.name.split("=")[1]) < state.log_floor
        for e in os.scandir(t2.log.log_dir)
    )
    after = catalog.current_commit("db", "rb_crash")
    assert after.log_start == {}  # garbage sweep never rebases offsets
    # table still fully correct after the sweep
    t3 = FlussTable(catalog, "db", "rb_crash")
    assert t3.snapshot(spark).count() == 30
    assert t3.lookup(spark, {"k": 5}).collect()[0]["v"] == "v5b"


def test_minmax_from_metadata(spark, catalog):
    """A2 footer min/max: exact on numeric columns across both tiers,
    refuses strings (truncated stats risk) and uncommitted data."""
    from fluss_spark.maintenance import tier_log

    t = create_table(
        catalog, "db", "mmx",
        TableSchema(
            fields=[Field("k", "BIGINT"), Field("s", "STRING"), Field("x", "DOUBLE")],
            num_buckets=2,
        ),
    )
    t.append(
        spark.createDataFrame([(5, "a", 1.5), (9, "b", -2.25)], "k long, s string, x double"),
        ordering=["k"],
    )
    t.append(
        spark.createDataFrame([(1, "c", 7.125)], "k long, s string, x double"),
        ordering=["k"],
    )
    assert t.log.minmax_from_metadata("k") == (1, 9)
    assert t.log.minmax_from_metadata("x") == (-2.25, 7.125)
    assert t.log.minmax_from_metadata("s") is None  # strings refuse
    assert t.log.minmax_from_metadata("nope") is None
    # still exact when commits move to the remote tier
    tier_log(t, local_segments=1)
    assert t.log.minmax_from_metadata("k") == (1, 9)
    # staged-but-uncommitted data is fenced: write a fake staging dir
    import shutil

    from fluss_spark.table import FlussTable

    t2 = FlussTable(catalog, "db", "mmx")
    staged = t2.log.staging_path(99)
    src = None
    import os as _os

    for e in _os.scandir(t2.log.remote_dir):
        if e.name.startswith("__commit="):
            src = e.path
            break
    shutil.copytree(src, staged)
    assert t2.log.minmax_from_metadata("k") == (1, 9)  # unchanged
    shutil.rmtree(staged)


@pytest.mark.slow
def test_zorder_compaction_layout(spark, catalog):
    """Z-order compaction must (a) preserve data + offsets exactly and
    (b) leave every output file narrow in footer min/max on BOTH curve
    columns — the property that lets a filter on either column skip
    files, where lexicographic clustering only narrows the leading one."""
    import glob

    import pyarrow.parquet as pq

    t = create_table(
        catalog, "db", "z_log",
        TableSchema(fields=[Field("x", "INT"), Field("y", "INT")], num_buckets=1),
    )
    # independent 64x64 grid: x varies fast, y slow
    df = spark.range(8192).select(
        (F.col("id") % 64).cast("int").alias("x"),
        ((F.col("id") / 64).cast("int") % 64).cast("int").alias("y"),
    )
    t.append(df, ordering=["x", "y"])
    t.append(df, ordering=["x", "y"])
    before = sorted(map(tuple, t.scan(spark).select("x", "y", "__offset").collect()))

    assert compact_log(t, spark, target_commits=2, zorder_columns=["x", "y"]) == 2

    after = sorted(map(tuple, t.scan(spark).select("x", "y", "__offset").collect()))
    assert before == after

    files = glob.glob(f"{t.log.log_dir}/__commit=*/**/*.parquet", recursive=True)
    assert len(files) >= 8  # multiple Z tiles per bucket, not one big file
    # average footer span must be narrow on BOTH columns (a boundary
    # tile straddling a quadrant seam may individually span the range —
    # inherent to Z curves — but lexicographic clustering would average
    # the FULL 63 on the trailing column)
    for col in ("x", "y"):
        spans = []
        for f in files:
            md = pq.read_metadata(f)
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            idx = names.index(col)
            lo = min(md.row_group(r).column(idx).statistics.min for r in range(md.num_row_groups))
            hi = max(md.row_group(r).column(idx).statistics.max for r in range(md.num_row_groups))
            spans.append(hi - lo)
        assert sum(spans) / len(spans) <= 40, (col, spans)

    # exclusivity + type guards
    with pytest.raises(ValueError):
        compact_log(t, spark, target_commits=1, sort_columns=["x"], zorder_columns=["y"])
    t2 = create_table(
        catalog, "db", "z_bad",
        TableSchema(fields=[Field("s", "STRING")], num_buckets=1),
    )
    t2.append(spark.createDataFrame([("a",)], "s string"))
    with pytest.raises(ValueError):
        compact_log(t2, spark, target_commits=1, zorder_columns=["s"])


@pytest.mark.slow
def test_partitioned_pk_compact_and_rebucket(spark, catalog):
    """Snapshot compaction and rebucket on a PARTITIONED pk table must
    rewrite into the nested (partition above bucket) layout and a
    pair-granular manifest, preserving reads and lookups."""
    from fluss_spark.maintenance import compact_snapshot, rebucket_table

    schema = TableSchema(
        fields=[
            Field("dt", "STRING", nullable=False),
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
        ],
        primary_key=["dt", "k"],
        partition_keys=["dt"],
        num_buckets=2,
        properties={"table.snapshot.auto-compact-dirs": "0"},
    )
    t = create_table(catalog, "db", "pk_part_cr", schema)
    for i in range(4):  # alternating single-partition commits -> the
        # other partition's pairs keep their older dirs (>= 2 dirs)
        rows = [(f"d{1 + i % 2}", k, f"v{i}_{k}") for k in range(i, i + 3)]
        t.upsert(spark.createDataFrame(rows, "dt string, k int, v string"), ordering=["k"])
    state0 = catalog.current_commit("db", "pk_part_cr")
    assert len(set(t.kv._manifest(state0.snapshot_version).values())) > 1
    before = sorted(map(tuple, t.snapshot(spark).collect()))

    assert compact_snapshot(t, spark, max_dirs=1)
    state = catalog.current_commit("db", "pk_part_cr")
    m = t.kv._manifest(state.snapshot_version)
    assert len(set(m.values())) == 1  # one fresh dir
    assert all(isinstance(pair, tuple) and pair[0].startswith("dt=") for pair in m)
    assert sorted(map(tuple, t.snapshot(spark).collect())) == before
    assert t.lookup(spark, {"dt": "d1", "k": 3}).count() == 1

    rebucket_table(t, spark, 4)
    t2 = type(t)(catalog, "db", "pk_part_cr")  # re-open under new layout
    assert t2.schema.num_buckets == 4
    assert sorted(map(tuple, t2.snapshot(spark).collect())) == before
    assert t2.lookup(spark, {"dt": "d2", "k": 4}).count() == 1


def test_compact_log_crash_before_cleanup_reads_no_duplicates(spark, catalog, monkeypatch):
    """compact_log commits its rewrite of every local commit dir, then
    deletes the dirs it rewrote. A crash in between must not let a scan
    read both copies: the commit itself fences the older local dirs,
    and the next compaction drops them."""
    import os

    from fluss_spark import fsops

    t = create_table(
        catalog, "db", "compact_crash",
        TableSchema(fields=[Field("a", "INT"), Field("b", "STRING")], num_buckets=2),
    )
    for i in range(3):
        t.append(
            spark.createDataFrame([(10 * i + j, f"r{i}") for j in range(4)], "a int, b string"),
            ordering=["a"],
        )
    rows = lambda: sorted(tuple(r) for r in t.scan(spark).select("__bucket", "__offset", "a", "b").collect())  # noqa: E731
    want = rows()

    real_remove = fsops.remove

    def boom(path):
        if os.path.basename(path) in ("__commit=1", "__commit=2", "__commit=3"):
            raise RuntimeError("simulated crash before the old dirs are gone")
        return real_remove(path)

    monkeypatch.setattr(fsops, "remove", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_log(t, spark, target_commits=2)
    monkeypatch.undo()
    assert catalog.current_commit("db", "compact_crash").version == 4
    assert sorted(os.listdir(t.log.log_dir)) == [f"__commit={v}" for v in (1, 2, 3, 4)]  # all left
    assert rows() == want

    t.append(spark.createDataFrame([(99, "late")], "a int, b string"), ordering=["a"])
    assert compact_log(t, spark, target_commits=1) == 2
    assert os.listdir(t.log.log_dir) == ["__commit=6"]
    assert [r for r in rows() if r[2] != 99] == want and len(rows()) == len(want) + 1


@pytest.mark.parametrize("zorder", [None, ["a", "b"]], ids=["sorted", "zorder"])
def test_compact_log_keeps_the_table_codec(spark, catalog, zorder):
    """Both write branches of compact_log write with
    `table.log.compression`, as appends do: a zstd log stays zstd."""
    import glob
    import os

    import pyarrow.parquet as pq

    t = create_table(
        catalog, "db", "zstd_log",
        TableSchema(
            fields=[Field("a", "INT"), Field("b", "INT")],
            num_buckets=2,
            properties={"table.log.compression": "zstd"},
        ),
    )
    for i in range(3):
        t.append(spark.createDataFrame([(10 * i + j, j) for j in range(4)], "a int, b int"), ordering=["a"])
    assert compact_log(t, spark, target_commits=2, zorder_columns=zorder) == 3
    files = glob.glob(os.path.join(t.log.log_dir, "*", "**", "*.parquet"), recursive=True)
    codecs = {
        md.row_group(g).column(c).compression
        for md in (pq.ParquetFile(f).metadata for f in files)
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    }
    assert files and codecs == {"ZSTD"}


def test_rebucket_manifest_lists_only_written_buckets(spark, catalog):
    """Rebucketing an unpartitioned PK table to more buckets than it has
    keys leaves some new buckets empty: the manifest lists exactly the
    `__bucket=` dirs its data dir holds, as every other snapshot writer
    does, and the snapshot reads the same rows."""
    import os

    from fluss_spark.maintenance import rebucket_table
    from fluss_spark.table import FlussTable

    t = create_table(
        catalog, "db", "rb_sparse",
        TableSchema(
            fields=[Field("k", "INT", nullable=False), Field("v", "STRING")],
            primary_key=["k"],
            num_buckets=2,
        ),
    )
    t.upsert(spark.createDataFrame([(k, f"v{k}") for k in range(3)], "k int, v string"))
    before = sorted(map(tuple, t.snapshot(spark).collect()))
    rebucket_table(t, spark, 16)
    t2 = FlussTable(catalog, "db", "rb_sparse")
    manifest = t2.kv._manifest(catalog.current_commit("db", "rb_sparse").snapshot_version)
    (data_dir,) = set(manifest.values())
    written = {
        int(n.split("=")[1])
        for n in os.listdir(os.path.join(t2.kv.snapshot_dir, data_dir))
        if n.startswith("__bucket=")
    }
    assert set(manifest) == written and len(written) <= 3
    assert sorted(map(tuple, t2.snapshot(spark).collect())) == before
