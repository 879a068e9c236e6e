"""M8 overwrite mode, M9 WAL changelog image, L3 insert-if-not-exists,
schema evolution (field IDs), RBM merge aggregator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def test_wal_changelog_image(spark, catalog):
    schema = TableSchema(
        fields=[Field("k", "INT", nullable=False), Field("v", "STRING")],
        primary_key=["k"],
        num_buckets=2,
        properties={"table.changelog.image": "wal"},
    )
    t = create_table(catalog, "db", "wal_pk", schema)
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.upsert(spark.createDataFrame([(1, "b")], "k int, v string"))
    t.delete(spark.createDataFrame([(1, "b")], "k int, v string"))
    cl = [
        (r["_change_type"], r["v"])
        for r in t.changelog(spark).orderBy("_log_offset").collect()
    ]
    # no -U; +I converted to +U (skip-old-lookup optimization)
    assert cl == [("+U", "a"), ("+U", "b"), ("-D", "b")]
    assert t.snapshot(spark).count() == 0


def test_overwrite_merge_mode(spark, catalog):
    schema = TableSchema(
        fields=[Field("k", "INT", nullable=False), Field("v", "STRING"), Field("ver", "BIGINT")],
        primary_key=["k"],
        num_buckets=2,
        properties={
            "table.merge-engine": "versioned",
            "table.merge-engine.versioned.ver-column": "ver",
        },
    )
    t = create_table(catalog, "db", "ow_pk", schema)
    t.upsert(spark.createDataFrame([(1, "high", 100)], "k int, v string, ver bigint"))
    # versioned engine would reject the lower version...
    t.upsert(spark.createDataFrame([(1, "low", 1)], "k int, v string, ver bigint"))
    assert t.snapshot(spark).collect()[0]["v"] == "high"
    # ...but OVERWRITE mode restores exact values regardless (undo path)
    t.upsert(
        spark.createDataFrame([(1, "restored", 1)], "k int, v string, ver bigint"),
        merge_mode="overwrite",
    )
    assert t.snapshot(spark).collect()[0]["v"] == "restored"


def test_insert_if_not_exists(spark, catalog):
    schema = TableSchema(
        fields=[Field("k", "INT", nullable=False), Field("v", "STRING")],
        primary_key=["k"],
        num_buckets=2,
    )
    t = create_table(catalog, "db", "iine_pk", schema)
    t.upsert(spark.createDataFrame([(1, "existing")], "k int, v string"))
    got = t.kv.insert_if_not_exists(
        spark.createDataFrame([(1, "ignored"), (2, "ignored"), (2, "dup")], "k int, v string")
    )
    rows = {r["k"]: r["v"] for r in got.collect()}
    # existing key keeps its value; the miss inserted a key-only STUB
    # (Lookup.java:97-105 — 'inserted with the lookup key values'),
    # never the probe payload; duplicate probes collapse to one stub
    assert rows == {1: "existing", 2: None}
    assert t.snapshot(spark).count() == 2

    # a table with a NOT NULL non-key column cannot host the stub
    import pytest

    bad = create_table(
        catalog, "db", "iine_bad",
        TableSchema(
            fields=[Field("k", "INT", nullable=False), Field("v", "STRING", nullable=False)],
            primary_key=["k"],
            num_buckets=2,
        ),
    )
    with pytest.raises(ValueError, match="nullable"):
        bad.kv.insert_if_not_exists(spark.createDataFrame([(9, "x")], "k int, v string"))


def test_schema_evolution_add_column(spark, catalog):
    schema = TableSchema(
        fields=[Field("a", "INT"), Field("b", "STRING")], num_buckets=2
    )
    t = create_table(catalog, "db", "evo_log", schema)
    t.append(spark.createDataFrame([(1, "x")], "a int, b string"))

    # ALTER TABLE ADD COLUMN c DOUBLE (field IDs anchor old columns)
    old = catalog.get_schema("db", "evo_log")
    old.fields.append(Field("c", "DOUBLE", field_id=max(f.field_id for f in old.fields) + 1))
    catalog.set_schema("db", "evo_log", old)

    t2 = FlussTable(catalog, "db", "evo_log")
    t2.append(spark.createDataFrame([(2, "y", 3.5)], "a int, b string, c double"))
    rows = sorted(map(tuple, t2.scan(spark).select("a", "b", "c").collect()))
    # old files read with the evolved schema -> null for the new column
    assert rows == [(1, "x", None), (2, "y", 3.5)]
    ids = [f.field_id for f in catalog.get_schema("db", "evo_log").fields]
    assert len(set(ids)) == 3


def test_rbm_merge_aggregator(spark, catalog):
    schema = TableSchema(
        fields=[Field("k", "INT", nullable=False), Field("visitors", "ARRAY<BIGINT>", agg="rbm64")],
        primary_key=["k"],
        num_buckets=2,
        properties={"table.merge-engine": "aggregation"},
    )
    t = create_table(catalog, "db", "rbm_pk", schema)
    t.upsert(
        spark.createDataFrame(
            [(1, [10], 1), (1, [20, 10], 2), (1, [10], 3)], "k int, visitors array<bigint>, o int"
        ),
        ordering=["o"],
    )
    row = t.snapshot(spark).collect()[0]
    assert sorted(row["visitors"]) == [10, 20]  # bitmap = distinct set


def test_partitioned_pk_table(spark, catalog):
    """Partition keys + primary key: changelog and snapshot respect both
    dimensions; partition filter prunes the scan."""
    schema = TableSchema(
        fields=[Field("dt", "STRING"), Field("k", "INT", nullable=False), Field("v", "STRING")],
        primary_key=["dt", "k"],
        partition_keys=["dt"],
        num_buckets=2,
    )
    t = create_table(catalog, "db", "part_pk", schema)
    t.upsert(
        spark.createDataFrame(
            [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 1, "c")], "dt string, k int, v string"
        )
    )
    t.upsert(spark.createDataFrame([("d1", 1, "a2")], "dt string, k int, v string"))
    snap = sorted(map(tuple, t.snapshot(spark).collect()))
    assert snap == [("d1", 1, "a2"), ("d1", 2, "b"), ("d2", 1, "c")]
    # partition-pruned changelog scan
    d1 = t.changelog(spark).filter(F.col("dt") == "d1")
    assert d1.count() == 4  # +I,+I then -U,+U
    # lookup with the partition value in the key
    assert t.lookup(spark, {"dt": "d2", "k": 1}).collect()[0]["v"] == "c"


def test_multi_table(spark, catalog):
    from fluss_spark.table import MultiTable

    s = TableSchema(fields=[Field("a", "INT")], num_buckets=1)
    create_table(catalog, "db", "mt1", s)
    create_table(catalog, "db", "mt2", TableSchema(fields=[Field("a", "INT")], num_buckets=1))
    mt = MultiTable(catalog, [("db", "mt1"), ("db", "mt2")])
    mt.append_all(
        {
            "db.mt1": spark.createDataFrame([(1,)], "a int"),
            "db.mt2": spark.createDataFrame([(2,), (3,)], "a int"),
        }
    )
    scans = mt.scan_all(spark)
    assert scans["db.mt1"].count() == 1 and scans["db.mt2"].count() == 2
    assert sorted(r["a"] for r in mt.union_scan(spark, ["a"]).collect()) == [1, 2, 3]


def test_compression_property(spark, catalog):
    import glob

    t = create_table(
        catalog, "db", "zstd_log",
        TableSchema(fields=[Field("a", "INT")], num_buckets=1,
                    properties={"table.log.compression": "zstd"}),
    )
    t.append(spark.createDataFrame([(i,) for i in range(100)], "a int"))
    files = glob.glob(f"{catalog.table_dir('db','zstd_log')}/log/**/*.parquet", recursive=True)
    assert files and all(".zstd." in f or f.endswith(".parquet") for f in files)
    # codec recorded in the file name by spark
    assert any(".zstd." in f for f in files)
    assert t.scan(spark).count() == 100


def test_sql_views(spark, catalog):
    from fluss_spark.table import register_sql_views

    create_table(
        catalog, "db", "sqlt",
        TableSchema(fields=[Field("k", "INT", nullable=False), Field("v", "STRING")], primary_key=["k"], num_buckets=2),
    )
    t = FlussTable(catalog, "db", "sqlt")
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.upsert(spark.createDataFrame([(1, "a2")], "k int, v string"))

    views = register_sql_views(catalog, spark, "db", ["sqlt"])
    assert "db_sqlt__changelog" in views
    # SQL over the snapshot view
    rows = spark.sql("SELECT k, v FROM `db_sqlt__snapshot` ORDER BY k").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(1, "a2"), (2, "b")]
    # SQL over the changelog virtual table
    n = spark.sql(
        "SELECT count(*) AS n FROM `db_sqlt__changelog` WHERE _change_type = '+I'"
    ).collect()[0]["n"]
    assert n == 2
    # binlog UPDATE row carries before/after structs
    up = spark.sql(
        "SELECT before.v AS bv, after.v AS av FROM `db_sqlt__binlog` WHERE op_type = 'UPDATE'"
    ).collect()
    assert [(r["bv"], r["av"]) for r in up] == [("a", "a2")]


def test_admin_facade(spark, catalog):
    from fluss_spark.admin import Admin

    admin = Admin(catalog)
    admin.create_database("db2")
    assert "db2" in admin.list_databases()
    t = admin.create_table(
        "db2", "adm",
        TableSchema(fields=[Field("k", "INT", nullable=False), Field("v", "STRING")], primary_key=["k"], num_buckets=2),
    )
    assert admin.table_exists("db2", "adm") and admin.list_tables("db2") == ["adm"]
    assert admin.get_table_info("db2", "adm").primary_key == ["k"]
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    offs = admin.list_offsets("db2", "adm", "latest")
    assert sum(offs.values()) == 2  # two +I records in the WAL
    snap = admin.get_latest_kv_snapshot("db2", "adm")
    assert snap is not None and snap.log_offsets == offs
    assert admin.list_kv_snapshots("db2", "adm") == [snap.snapshot_id]
    admin.drop_table("db2", "adm")
    assert not admin.table_exists("db2", "adm")


def test_concurrent_appends_locked(spark, catalog):
    """Two writer threads under the single-writer lock: all commits land,
    offsets stay contiguous per bucket, no lost updates."""
    from concurrent.futures import ThreadPoolExecutor

    t = create_table(
        catalog, "db", "conc_log",
        TableSchema(fields=[Field("a", "INT")], num_buckets=2),
    )

    def writer(base: int) -> None:
        for i in range(3):
            t.append(spark.createDataFrame([(base + i,)], "a int"))

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(writer, [0, 100]))

    rows = t.scan(spark)
    assert rows.count() == 6
    per_bucket = rows.groupBy("__bucket").agg(
        F.min("__offset").alias("mn"), F.max("__offset").alias("mx"), F.count("*").alias("n")
    ).collect()
    for r in per_bucket:
        assert r["mn"] == 0 and r["n"] == r["mx"] + 1  # contiguous
    assert t.count() == 6


def test_partial_update_aggregation_interplay(spark, catalog):
    """PartialAggregateRowMerger semantics: partial batches aggregate
    only target columns; untouched columns carry the accumulated value
    (a plain batch's null WOULD overwrite a last_value column)."""
    schema = TableSchema(
        fields=[
            Field("k", "INT", nullable=False),
            Field("total", "BIGINT", agg="sum"),
            Field("status", "STRING", agg="last_value"),
        ],
        primary_key=["k"],
        num_buckets=2,
        properties={"table.merge-engine": "aggregation"},
    )
    t = create_table(catalog, "db", "pagg", schema)
    t.upsert(spark.createDataFrame([(1, 10, "open")], "k int, total bigint, status string"))
    # partial batch: only k+total — status must survive
    t.upsert(
        spark.createDataFrame([(1, 5)], "k int, total bigint"),
        partial_update_cols=["k", "total"],
    )
    row = t.snapshot(spark).collect()[0]
    assert row["total"] == 15 and row["status"] == "open"
    # contrast: a FULL batch with null status overwrites it (last_value)
    t.upsert(spark.createDataFrame([(1, 1, None)], "k int, total bigint, status string"))
    row = t.snapshot(spark).collect()[0]
    assert row["total"] == 16 and row["status"] is None


def test_lookup_bigint_key_routing(spark, catalog):
    """Regression: the lookup key literal must be cast to the DECLARED
    column type before hashing — Murmur3 hashes int32 and int64
    differently, so an untyped python int routed to the wrong bucket
    and returned empty."""
    t = create_table(
        catalog, "db", "big_lk",
        TableSchema(fields=[Field("k", "BIGINT"), Field("v", "STRING")], primary_key=["k"], num_buckets=8),
    )
    t.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k bigint, v string"))
    for key in (0, 7, 31, 99):
        got = t.lookup(spark, {"k": key}).collect()
        assert len(got) == 1 and got[0]["v"] == f"v{key}", f"key {key} mis-routed"


import pytest


@pytest.mark.parametrize("path", ["union_find", "propagation"])
def test_connected_components_transitive(spark, path, monkeypatch):
    """Both CC paths (driver union-find fast path, distributed min-label
    propagation) must close over chains (a-b, b-c => one component) and
    leave singletons as their own component."""
    from fluss_spark.operators import dedup
    from fluss_spark.operators.dedup import connected_components

    if path == "propagation":  # force the distributed path
        monkeypatch.setattr(dedup, "_DRIVER_CC_MAX_EDGES", 0)
    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    # chain 1-2-3, pair 5-6 (given in one direction only), singleton 0, 4
    edges = spark.createDataFrame([(2, 1), (2, 3), (6, 5)], "a long, b long")
    got = {
        r["id"]: r["component"] for r in connected_components(nodes, edges).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_lsh_widths_scale_with_corpus():
    """Signature widths derive from corpus size: constant (= the SQL
    oracles' parameterization) through every testdata SF, then widening
    so per-bucket population / false-positive mass stays bounded."""
    from fluss_spark.operators.dedup import _ab, _AB, _BAND_ROWS, _K_HASHES
    from fluss_spark.operators.similarity import (
        _HP_ROWS,
        _HP_TARGET_BUCKET,
        _hyperplanes,
        hp_rows_for,
    )

    # oracle domain: baseline widths for every corpus the oracles run on
    for n in (500, 2000, 5000, 50_000):
        assert hp_rows_for(n) == _HP_ROWS
    # scale path: population n / 2^bits stays within [target/2, target]
    for n in (200_000, 2_000_000, 10**9):
        bits = hp_rows_for(n)
        assert bits > _HP_ROWS
        assert n / 2**bits <= _HP_TARGET_BUCKET
        assert n / 2**bits > _HP_TARGET_BUCKET / 2
    # a wider plane/hash family extends the narrow one (prefix property:
    # stored signatures stay valid when the width is raised)
    assert _hyperplanes(48)[:32] == _hyperplanes(32)
    assert _ab(16)[:_K_HASHES] == _AB

    import math

    from fluss_spark.operators import dedup

    def rows_for(n):
        extra = max(0, math.ceil(math.log2(max(1.0, n / dedup._MH_BASE_N)) / 2))
        return _BAND_ROWS + extra

    assert rows_for(5000) == _BAND_ROWS
    assert rows_for(65_536) == _BAND_ROWS
    assert rows_for(2_000_000) > _BAND_ROWS


def test_cosine_pairs_kernel_chunked_matches_bruteforce():
    """The chunked matmul path (group population > ~1.4k rows forces
    multiple row blocks) must emit exactly the brute-force pair set —
    guards the global-vs-chunk index arithmetic."""
    import numpy as np
    import pandas as pd

    from fluss_spark.operators.similarity import cosine_pairs_kernel

    rng = np.random.default_rng(7)
    n, d, thr = 2000, 16, 0.5
    V = rng.normal(size=(n, d))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    ids = rng.permutation(np.arange(10_000, 10_000 + n))  # unsorted ids
    pdf = pd.DataFrame({"vec_id": ids, "vn": list(V)})

    got = cosine_pairs_kernel(thr, id_col="vec_id", vec_col="vn")(pdf)
    got_set = set(zip(got["vec_a"], got["vec_b"]))

    C = V @ V.T
    iu, ju = np.triu_indices(n, k=1)
    keep = C[iu, ju] >= thr
    a, b = ids[iu[keep]], ids[ju[keep]]
    want = set(zip(np.minimum(a, b), np.maximum(a, b)))

    assert len(want) > 100  # the threshold actually bites
    assert got_set == want
    # cosine values exact per pair
    ref = {(min(x, y), max(x, y)): C[i, j] for x, y, i, j in zip(ids[iu[keep]], ids[ju[keep]], iu[keep], ju[keep])}
    for r in got.itertuples():
        assert abs(ref[(r.vec_a, r.vec_b)] - r.cosine) < 1e-12


def test_sq8_blas_kernel_matches_jvm_path(spark, sf_dir):
    """The two SQ8 candidate-scoring strategies (broadcast-join zip_with
    dot vs per-batch BLAS matmul with in-kernel partial top-N) must
    produce IDENTICAL results — codes are small integers, so the float64
    matmul is exact and no rounding tolerance is needed."""
    from fluss_spark.operators.similarity import _sq8_search

    jvm = _sq8_search(spark, sf_dir, 5).collect()
    blas = _sq8_search(spark, sf_dir, 5, force_kernel=True).collect()
    assert sorted(map(tuple, jvm)) == sorted(map(tuple, blas))
    assert len(jvm) == 50
    # and the kernel path engages automatically past the threshold
    import plan_inspect as plans

    wide = _sq8_search(spark, sf_dir, 40)
    assert "MapInPandas" in plans.physical_plan(wide)
    assert wide.groupBy("query_id").count().count() == 40


def test_select_nprobe_meets_recall_target(spark):
    """Accuracy-SLA parameter selection: on a corpus with genuine cosine
    cluster structure, select_nprobe returns the SMALLEST nprobe whose
    measured recall@10 meets the 0.8 target — and the selection is
    non-trivial (nprobe=1 misses the target, so the audit actually
    drives the choice)."""
    import numpy as np

    from fluss_spark.operators.similarity import select_nprobe

    rng = np.random.default_rng(42)
    k_cells, n, d = 6, 900, 16
    centers = rng.normal(size=(k_cells, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rng2 = np.random.default_rng(7)
    cells = rng2.integers(0, k_cells, n)
    V = centers[cells] + 0.5 * rng2.normal(size=(n, d))
    rows = [(int(i), int(cells[i]), [float(x) for x in V[i]]) for i in range(n)]
    e = spark.createDataFrame(rows, "vec_id long, label int, v array<double>")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    nprobe, measured = select_nprobe(e, q, target_recall=0.8)
    assert nprobe == 2
    assert measured[1] < 0.8 <= measured[2]


def test_incremental_lsh_index_advances(spark, catalog):
    """dd_incremental_lsh's storage contract: probing the band index is
    read-only; upserting a new batch's bands ADVANCES the index so a
    re-arrival of that batch (or a near-copy) now collides — and
    FIRST_ROW keeps the original canonical, never the re-arrival."""
    from fluss_spark.table import create_table
    from fluss_spark.types import Field, TableSchema

    schema = TableSchema(
        fields=[Field("band", "INT"), Field("band_sig", "STRING"), Field("doc_id", "BIGINT")],
        primary_key=["band", "band_sig"],
        num_buckets=4,
        properties={"table.merge-engine": "first_row"},
    )
    t = create_table(catalog, "db", "lsh_idx", schema)
    old = spark.createDataFrame(
        [(b, f"sig{b}", 100 + b) for b in range(4)], "band int, band_sig string, doc_id bigint"
    )
    t.upsert(old, ordering=["doc_id"])

    new = spark.createDataFrame(
        [(0, "sig0", 900), (1, "signew", 900), (2, "signew2", 901)],
        "band int, band_sig string, doc_id bigint",
    )
    snap = t.snapshot(spark).withColumnRenamed("doc_id", "canonical")
    hits = new.join(snap, on=["band", "band_sig"]).select("doc_id", "canonical").collect()
    assert [(r["doc_id"], r["canonical"]) for r in hits] == [(900, 100)]

    # ingest the batch -> its novel buckets are now state; known buckets keep
    # their original canonical (FIRST_ROW)
    t.upsert(new, ordering=["doc_id"])
    snap2 = {
        (r["band"], r["band_sig"]): r["doc_id"] for r in t.snapshot(spark).collect()
    }
    assert snap2[(0, "sig0")] == 100  # re-arrival did NOT steal the bucket
    assert snap2[(1, "signew")] == 900 and snap2[(2, "signew2")] == 901
    # a near-copy of the ingested batch now collides on its buckets
    again = spark.createDataFrame(
        [(1, "signew", 950)], "band int, band_sig string, doc_id bigint"
    )
    rehit = again.join(
        t.snapshot(spark).withColumnRenamed("doc_id", "canonical"), on=["band", "band_sig"]
    ).collect()
    assert [(r["doc_id"], r["canonical"]) for r in rehit] == [(950, 900)]


def test_incremental_ivf_index_advances(spark, catalog):
    """ann_incremental_ivf's storage contract: the trained coarse
    quantizer is table-property metadata (reloadable, so later batches
    never retrain), probing the cell index is read-only, and upserting
    a new batch's assignments ADVANCES the index so later probes find
    that batch among the candidates."""
    import json

    from fluss_spark.operators.similarity import assign_cells, kmeans_centroids
    from fluss_spark.table import create_table
    from fluss_spark.types import Field, TableSchema

    dim = 4
    e = spark.createDataFrame(
        [(i, [float(i % 2)] * dim) for i in range(8)], "vec_id long, v array<double>"
    )
    cents = kmeans_centroids(e, k=2, iters=2)
    schema = TableSchema(
        fields=[Field("cell", "INT"), Field("vec_id", "BIGINT")],
        primary_key=["cell", "vec_id"],
        bucket_keys=["cell"],
        num_buckets=4,
        properties={"index.ivf.centroids": json.dumps(cents)},
    )
    t = create_table(catalog, "db", "ivf_idx", schema)
    t.upsert(assign_cells(e, cents).select("cell", "vec_id"), ordering=["vec_id"])

    # the quantizer reloads from the stored property bit-identically
    reloaded = [
        (int(c), [float(x) for x in v])
        for c, v in json.loads(t.schema.properties["index.ivf.centroids"])
    ]
    assert reloaded == [(int(c), [float(x) for x in v]) for c, v in cents]

    # a new batch assigns against the STORED quantizer and probes the
    # snapshot: near-1 vectors must land in the odd-id cell, near-0 in
    # the even-id cell
    newe = spark.createDataFrame(
        [(100, [0.9] * dim), (101, [0.1] * dim)], "vec_id long, v array<double>"
    )
    newa = assign_cells(newe, reloaded)
    snap = t.snapshot(spark).withColumnRenamed("vec_id", "neighbor_id")
    by_q: dict = {}
    for r in newa.join(snap, "cell").collect():
        by_q.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    assert by_q[100] == {1, 3, 5, 7} and by_q[101] == {0, 2, 4, 6}

    # ingest the batch -> its assignments are now index state
    t.upsert(newa.select("cell", "vec_id"), ordering=["vec_id"])
    again = assign_cells(
        spark.createDataFrame([(200, [0.95] * dim)], "vec_id long, v array<double>"),
        reloaded,
    )
    hits = {
        r["neighbor_id"]
        for r in again.join(
            t.snapshot(spark).withColumnRenamed("vec_id", "neighbor_id"), "cell"
        ).collect()
    }
    assert 100 in hits and hits >= {1, 3, 5, 7}


def test_partitioned_pair_granular_snapshot(spark, catalog):
    """The snapshot-rewrite unit on partitioned pk tables is the
    (partition, bucket) PAIR (reference TableBucket granularity): a
    commit touching one partition must leave every other partition's
    files untouched BYTES on disk, referenced through older manifest
    entries; superseded pairs still physically present in old dirs are
    excluded by the dir_pairs anti-filter; a pair whose keys are all
    deleted leaves the manifest."""
    import glob
    import os

    schema = TableSchema(
        fields=[
            Field("dt", "STRING", nullable=False),
            Field("k", "INT", nullable=False),
            Field("v", "STRING"),
        ],
        primary_key=["dt", "k"],
        partition_keys=["dt"],
        num_buckets=2,
    )
    t = create_table(catalog, "db", "pair_gran", schema)
    rows = [("d1", k, f"a{k}") for k in range(6)] + [("d2", k, f"b{k}") for k in range(6)]
    t.upsert(spark.createDataFrame(rows, "dt string, k int, v string"), ordering=["k"])

    def _files(pattern):
        return {
            p: (os.path.getmtime(p), os.path.getsize(p))
            for p in glob.glob(f"{t.kv.snapshot_dir}/{pattern}", recursive=True)
            if p.endswith(".parquet")
        }

    d2_before = _files("**/dt=d2/**")
    assert d2_before  # nested layout: dt dirs above bucket dirs

    # commit touching ONLY d1
    t.upsert(
        spark.createDataFrame([("d1", 0, "A0"), ("d1", 99, "new")], "dt string, k int, v string"),
        ordering=["k"],
    )
    state = catalog.current_commit("db", "pair_gran")
    m = t.kv._manifest(state.snapshot_version)
    d2_entries = {pair: d for pair, d in m.items() if pair[0] == "dt=d2"}
    d1_entries = {pair: d for pair, d in m.items() if pair[0] == "dt=d1"}
    assert d2_entries and all(d == "data-v1" for d in d2_entries.values())
    assert any(d != "data-v1" for d in d1_entries.values())
    # d2's physical files: identical paths, mtimes, sizes — zero I/O
    assert _files("**/dt=d2/**") == d2_before

    # values: old d1 rows in data-v1 are shadowed, new ones visible
    snap = {(r["dt"], r["k"]): r["v"] for r in t.snapshot(spark).collect()}
    want = {("d1", k): f"a{k}" for k in range(1, 6)}
    want[("d1", 0)] = "A0"
    want[("d1", 99)] = "new"
    want.update({("d2", k): f"b{k}" for k in range(6)})
    assert snap == want
    # partition-pruned read + point lookup through the pair manifest
    assert {r["k"] for r in t.snapshot(spark).filter(F.col("dt") == "d2").collect()} == set(range(6))
    assert t.lookup(spark, {"dt": "d1", "k": 0}).collect()[0]["v"] == "A0"
    assert t.lookup(spark, {"dt": "d2", "k": 3}).collect()[0]["v"] == "b3"

    # delete EVERY d2 key -> its pairs leave the manifest entirely
    t.upsert(
        spark.createDataFrame(
            [("d2", k, None, "D") for k in range(6)], "dt string, k int, v string, __op string"
        ),
        ordering=["k"],
    )
    state = catalog.current_commit("db", "pair_gran")
    m = t.kv._manifest(state.snapshot_version)
    assert not any(pair[0] == "dt=d2" for pair in m)
    assert t.snapshot(spark).filter(F.col("dt") == "d2").count() == 0
    assert {r["k"] for r in t.snapshot(spark).collect()} == {0, 1, 2, 3, 4, 5, 99}

    # A2 footer stats stay exact through pair-precise subdirs
    mm = t.kv.minmax_from_metadata("k")
    assert mm == (0, 99)


def test_pq_kernel_trainer_matches_spark_plan(spark):
    """The map-side partial-sum PQ trainer (_pq_train_pack) must be
    BIT-IDENTICAL to the retained whole-plan Spark trainer
    (_pq_train_pack_spark) — codebooks and packed codes: the kernel
    replays the JVM fold order for every dot, accumulates in
    row-then-partition order, and tie-breaks (d2, cid)
    lexicographically. Any ulp drift flips a nearest-centroid argmin on
    a near-tie and breaks oracle hash parity for the 2 ADC queries."""
    import numpy as np

    from fluss_spark.operators.similarity import (
        _embeddings,
        _pq_train_pack,
        _pq_train_pack_spark,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = _embeddings(spark, sf)
        cb_k, packed_k = _pq_train_pack(spark, e, cache_key=None)
        cb_s, packed_s = _pq_train_pack_spark(spark, e, cache_key=None)
        assert np.array_equal(cb_k, cb_s), f"codebooks differ at {sf}"
        rows_k = sorted(
            (r["vec_id"], r["label"], tuple(r["code"])) for r in packed_k.collect()
        )
        rows_s = sorted(
            (r["vec_id"], r["label"], tuple(r["code"])) for r in packed_s.collect()
        )
        assert rows_k == rows_s, f"packed codes differ at {sf}"
