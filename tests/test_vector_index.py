"""Vector (IVF) index lifecycle over engine tables: train-once
quantizer in index metadata, incremental changelog sync with
cross-cell moves, deletes, and BLAS-kernel search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema
from fluss_spark.vector_index import (
    create_vector_index,
    sync_vector_index,
    vector_search,
    vindex_table_name,
)

DIM = 4


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def _mk_base(spark, catalog, name, rows):
    schema = TableSchema(
        fields=[
            Field("vid", "BIGINT", nullable=False),
            Field("emb", "ARRAY<DOUBLE>"),
            Field("tag", "STRING"),
        ],
        primary_key=["vid"],
        num_buckets=4,
    )
    t = create_table(catalog, "db", name, schema)
    t.upsert(
        spark.createDataFrame(rows, "vid long, emb array<double>, tag string"),
        ordering=["vid"],
    )
    return t


def test_vector_index_lifecycle(spark, catalog):
    # two tight clusters around 0 and 1; vids 0/1 seed the centroids
    rows = [(i, [float(i % 2)] * DIM, f"t{i}") for i in range(10)]
    t = _mk_base(spark, catalog, "vbase", rows)
    idx = create_vector_index(catalog, "db", "vbase", "emb", spark, k=2, iters=2)
    snap = {(r["cell"], r["vid"]) for r in idx.snapshot(spark).collect()}
    even_cell = next(c for c, v in snap if v == 0)
    odd_cell = next(c for c, v in snap if v == 1)
    assert even_cell != odd_cell
    assert {(even_cell, v) for v in range(0, 10, 2)} <= snap
    assert {(odd_cell, v) for v in range(1, 10, 2)} <= snap

    # search: a near-1 query must retrieve odd vids only
    q = spark.createDataFrame([(100, [0.9] * DIM)], "query_id long, v array<double>")
    got = vector_search(catalog, "db", "vbase", "emb", q, spark, k=3)
    assert {r["neighbor_id"] for r in got.collect()} <= {1, 3, 5, 7, 9}

    # cross-cell move: vid 2 flips clusters; vid 4 deleted; vid 20 new
    t.upsert(
        spark.createDataFrame(
            [(2, [1.0] * DIM, "moved"), (20, [0.0] * DIM, "new")],
            "vid long, emb array<double>, tag string",
        ),
        ordering=["vid"],
    )
    t.delete_where(spark, F.col("vid") == 4)
    n = sync_vector_index(catalog, "db", "vbase", "emb", spark)
    assert n > 0
    snap2 = {(r["cell"], r["vid"]) for r in idx.snapshot(spark).collect()}
    assert (odd_cell, 2) in snap2 and (even_cell, 2) not in snap2  # moved
    assert (even_cell, 4) not in snap2  # deleted
    assert (even_cell, 20) in snap2  # new row indexed
    # idempotent no-op sync
    assert sync_vector_index(catalog, "db", "vbase", "emb", spark) == 0

    # searches reflect the synced state
    got2 = {r["neighbor_id"] for r in vector_search(
        catalog, "db", "vbase", "emb", q, spark, k=6).collect()}
    assert 2 in got2 and got2 <= {1, 2, 3, 5, 7, 9}

    # nprobe=2 spans both cells
    got3 = {r["neighbor_id"] for r in vector_search(
        catalog, "db", "vbase", "emb", q, spark, k=12, nprobe=2).collect()}
    assert got3 & {0, 20} and got3 & {1, 2}


def test_vector_index_multi_event_slice_and_guards(spark, catalog):
    rows = [(i, [float(i % 2)] * DIM, "x") for i in range(6)]
    t = _mk_base(spark, catalog, "vbase2", rows)
    idx = create_vector_index(catalog, "db", "vbase2", "emb", spark, k=2, iters=2)
    cells = {r["vid"]: r["cell"] for r in idx.snapshot(spark).collect()}
    # ONE slice carrying A->B->A for the same pk: final cell must be A
    t.upsert(
        spark.createDataFrame([(0, [1.0] * DIM, "b")], "vid long, emb array<double>, tag string"),
        ordering=["vid"],
    )
    t.upsert(
        spark.createDataFrame([(0, [0.0] * DIM, "a")], "vid long, emb array<double>, tag string"),
        ordering=["vid"],
    )
    sync_vector_index(catalog, "db", "vbase2", "emb", spark)
    snap = {(r["cell"], r["vid"]) for r in idx.snapshot(spark).collect()}
    assert (cells[0], 0) in snap
    assert (cells[1], 0) not in snap

    # guards: composite pk and log tables rejected
    schema = TableSchema(
        fields=[Field("a", "BIGINT", nullable=False), Field("b", "BIGINT", nullable=False),
                Field("emb", "ARRAY<DOUBLE>")],
        primary_key=["a", "b"],
        num_buckets=2,
    )
    create_table(catalog, "db", "vcomp", schema)
    with pytest.raises(ValueError, match="single-column"):
        create_vector_index(catalog, "db", "vcomp", "emb", spark)
    log_schema = TableSchema(
        fields=[Field("a", "BIGINT"), Field("emb", "ARRAY<DOUBLE>")], num_buckets=2
    )
    create_table(catalog, "db", "vlog", log_schema)
    with pytest.raises(ValueError, match="primary-key"):
        create_vector_index(catalog, "db", "vlog", "emb", spark)


def test_call_vector_index_procedures(spark, catalog):
    from fluss_spark.sql_ddl import FlussSqlSession

    sess = FlussSqlSession(catalog, spark, default_db="db")
    sess.sql("""
        CREATE TABLE db.vecs (vid BIGINT NOT NULL, emb ARRAY<DOUBLE>,
                              PRIMARY KEY (vid) NOT ENFORCED)
        WITH ('bucket.num' = '2')
    """)
    rows = ", ".join(
        f"({i}, array({', '.join(str(float(i % 2)) for _ in range(DIM))}))"
        for i in range(8)
    )
    sess.sql(f"INSERT INTO vecs VALUES {rows}")
    out = sess.sql("CALL sys.create_vector_index(table => 'vecs', column => 'emb', k => 2)")
    assert out.collect()[0][0] == f"index={vindex_table_name('vecs', 'emb')}"
    sess.sql("INSERT INTO vecs VALUES (50, array(1.0, 1.0, 1.0, 1.0))")
    out = sess.sql("CALL sys.sync_vector_index(table => 'vecs', column => 'emb')")
    assert "consumed_changelog_rows=1" in out.collect()[0][0]
    idx = FlussTable(catalog, "db", vindex_table_name("vecs", "emb"))
    assert 50 in {r["vid"] for r in idx.snapshot(spark).collect()}
    # the index table is itself queryable through the SQL surface
    n = sess.sql(
        f"SELECT count(*) AS c FROM db_{vindex_table_name('vecs', 'emb')}__snapshot"
    ).collect()[0]["c"]
    assert n == 9


def test_create_vector_index_rejects_wal_image_base(spark, catalog):
    """Cross-cell moves fold via -U before-images; a wal-image
    changelog drops those, so creation must fail loudly."""
    import pytest as _pt

    from fluss_spark.table import create_table
    from fluss_spark.types import Field, TableSchema

    t = create_table(
        catalog, "db", "vwal",
        TableSchema(
            fields=[
                Field("vid", "BIGINT", nullable=False),
                Field("emb", "ARRAY<DOUBLE>"),
            ],
            primary_key=["vid"],
            num_buckets=1,
            properties={"table.changelog.image": "wal"},
        ),
    )
    t.upsert(
        spark.createDataFrame([(0, [0.0] * DIM), (1, [1.0] * DIM)],
                              "vid long, emb array<double>"),
        ordering=["vid"],
    )
    with _pt.raises(ValueError, match="changelog.image"):
        create_vector_index(catalog, "db", "vwal", "emb", spark, k=2)


def test_create_index_hwm_race_commit_never_lost(spark, catalog, monkeypatch):
    """A write committing while create_vector_index reads its training
    snapshot must not vanish from the index. The snapshot and the
    recorded offsets come from one pinned commit, so such a commit is
    left out of the snapshot and folded by the first sync — present
    exactly once."""
    import fluss_spark.vector_index as vx

    rows = [(i, [float(i % 2)] * DIM, "x") for i in range(6)]
    t = _mk_base(spark, catalog, "vrace", rows)

    orig_snapshot = type(t.kv).snapshot
    fired = {"done": False}

    def racing_snapshot(self, spark_, *a, **k):
        # inject a commit after the offsets were pinned, before the
        # training snapshot is read
        if not fired["done"]:
            fired["done"] = True
            FlussTable(catalog, "db", "vrace").upsert(
                spark_.createDataFrame(
                    [(99, [1.0] * DIM, "racer")],
                    "vid long, emb array<double>, tag string",
                ),
                ordering=["vid"],
            )
        return orig_snapshot(self, spark_, *a, **k)

    monkeypatch.setattr(type(t.kv), "snapshot", racing_snapshot)
    idx = create_vector_index(catalog, "db", "vrace", "emb", spark, k=2, iters=1)
    monkeypatch.undo()

    # the raced row is indexed exactly once, via populate or first sync
    sync_vector_index(catalog, "db", "vrace", "emb", spark)
    got = [r for r in idx.snapshot(spark).collect() if r["vid"] == 99]
    assert len(got) == 1
    # and syncs are idempotent afterwards
    assert sync_vector_index(catalog, "db", "vrace", "emb", spark) == 0
