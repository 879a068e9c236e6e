"""Vector (ANN) indexes over primary-key tables — IVF coarse
quantization as storage.

The reference has no vector access path at all; this extends the
engine the same way `indexes.py` extends its lookup surface, using
only the engine's own primitives — the index IS a primary-key table:

    index schema:  primary_key = [cell, *base_pk]
                   bucket_keys = [cell]        (the L2 contract:
                                                bucket key = pk prefix)

so probing a cell is the single-bucket L2 plan, and the TRAINED coarse
quantizer (k-means centroids over the base snapshot at creation time)
is persisted as index-table properties — index METADATA — which is
what lets every later batch assign itself map-side without retraining.

Maintenance is an incremental changelog consumer (T4), exactly the
`indexes.py` contract with one twist: the "indexed column" is COMPUTED
from the row image (its cell under the stored centroids), so an UPDATE
that moves a vector across cells folds as a delete at the before-image
cell and an insert at the after-image cell — both rows arrive in the
same changelog slice, each carrying the image the assignment needs.

Scale design: a sync shuffles only the new changelog slice; cell
assignment is map-side (centroids ride into the Arrow kernel as task
state); the index write is a normal engine transaction bucketed by
cell. A search restricts candidates to the queries' nprobe nearest
cells and scores each cell group in ONE BLAS kernel
(similarity.cell_cosine_topk) — never a per-pair interpreted dot.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.operators.replay import OP_COL
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema

VINDEX_BASE_PROP = "vindex.base-table"
VINDEX_COL_PROP = "vindex.column"
VINDEX_SYNC_PROP = "vindex.synced-offsets"
VINDEX_EPOCH_PROP = "vindex.synced-bucket-epoch"
VINDEX_CENTROIDS_PROP = "vindex.centroids"


def vindex_table_name(table: str, column: str) -> str:
    return f"{table}__vidx__{column}"


def _load_centroids(idx: FlussTable) -> list:
    return [
        (int(c), [float(x) for x in v])
        for c, v in json.loads(idx.schema.properties[VINDEX_CENTROIDS_PROP])
    ]


def _vectors(df: DataFrame, pk0: str, column: str) -> DataFrame:
    """(vec_id, v) view of a base-table frame for the kmeans/assign
    kernels (they key on a single sortable id column)."""
    return df.select(
        F.col(pk0).alias("vec_id"),
        F.transform(column, lambda x: x.cast("double")).alias("v"),
    ).filter(F.col("v").isNotNull())


def _remedy(table: str, column: str) -> str:
    return f"drop and recreate the index ({vindex_table_name(table, column)})"


def create_vector_index(
    catalog: Catalog,
    db: str,
    table: str,
    column: str,
    spark: SparkSession,
    k: int = 8,
    iters: int = 2,
) -> FlussTable:
    """Create (train + initially populate) an IVF index on the vector
    column. The quantizer trains on the CURRENT snapshot (deterministic
    Lloyd's, init = the k lowest pk values) and is frozen into the
    index properties; later batches only assign."""
    from fluss_spark.operators.similarity import assign_cells, kmeans_centroids

    base = FlussTable(catalog, db, table)
    if base.kv is None:
        raise ValueError("vector indexes require a primary-key base table")
    pk = base.schema.primary_key
    if len(pk) != 1:
        raise ValueError("vector indexes require a single-column primary key")
    fields = {f.name: f for f in base.schema.fields}
    if column not in fields:
        raise ValueError(f"no such column: {column}")
    if column in pk:
        raise ValueError(f"{column} is the primary key, not a vector column")
    if base.schema.changelog_image == "wal":
        # sync_vector_index folds cross-cell moves via -U before-images;
        # a wal-image changelog drops UPDATE_BEFORE rows, so a vector
        # that moves cells would leave a stale entry at its old cell
        raise ValueError(
            "vector indexes require table.changelog.image='full' "
            "(wal-image changelogs drop the UPDATE_BEFORE rows the "
            "sync uses to retract old-cell assignments)"
        )
    pk0 = pk[0]

    # the training snapshot and the recorded offsets come from ONE
    # pinned commit: a commit landing after the pin is folded once, by
    # the first sync
    pin = base.log.slice_from(None, None, _remedy(table, column))
    snap = base.snapshot(spark, version=pin.version)
    vecs = _vectors(snap, pk0, column)
    cents = kmeans_centroids(vecs, k=k, iters=iters)
    if not cents:
        raise ValueError(f"{db}.{table} has no rows to train the quantizer on")

    schema = TableSchema(
        fields=[Field("cell", "INT", nullable=False),
                Field(pk0, fields[pk0].type, nullable=False)],
        primary_key=["cell", pk0],
        bucket_keys=["cell"],
        num_buckets=base.schema.num_buckets,
        properties={
            VINDEX_BASE_PROP: f"{db}.{table}",
            VINDEX_COL_PROP: column,
            VINDEX_CENTROIDS_PROP: json.dumps(cents),
            VINDEX_SYNC_PROP: json.dumps(pin.end, sort_keys=True),
            VINDEX_EPOCH_PROP: pin.epoch,
        },
    )
    idx = create_table(catalog, db, vindex_table_name(table, column), schema)
    assigned = assign_cells(vecs, cents).withColumnRenamed("vec_id", pk0)
    idx.upsert(assigned.select("cell", pk0), ordering=[pk0])
    return idx


def sync_vector_index(
    catalog: Catalog, db: str, table: str, column: str, spark: SparkSession
) -> int:
    """Fold the base changelog since the last sync into the index: each
    event's row image assigns to its cell under the STORED centroids;
    per (cell, pk) the last event in the slice decides — before-images
    (-U/-D) remove the mapping at the OLD cell, after-images (+I/+U)
    insert at the NEW cell, so cross-cell moves fold naturally. Returns
    changelog rows consumed."""
    base = FlussTable(catalog, db, table)
    idx_name = vindex_table_name(table, column)
    idx = FlussTable(catalog, db, idx_name)
    pk0 = base.schema.primary_key[0]
    cents = _load_centroids(idx)
    # an empty record is a fresh start (create_vector_index records its
    # pinned offsets with the table, so nothing was recorded); any other
    # record is fenced by slice_from
    sl = base.log.slice_from(
        json.loads(idx.schema.properties.get(VINDEX_SYNC_PROP, "{}")) or None,
        idx.schema.properties.get(VINDEX_EPOCH_PROP, "0"),
        _remedy(table, column),
    )
    cl = base.changelog(spark, start_offsets=sl.start, end_offsets=sl.end).persist()
    n = cl.count()
    if n:
        from fluss_spark.operators.similarity import _assign_np
        from fluss_spark.types import parse_type

        events = cl.filter(F.col(column).isNotNull()).select(
            F.col(pk0).alias("__pk"),
            F.transform(column, lambda x: x.cast("double")).alias("v"),
            "_change_type",
            "_log_offset",
        )

        # the assignment must stay attached to its OWN event row (one
        # pk can carry several events in a slice, each with a different
        # image and therefore a different cell — a join back by pk
        # would cross-attribute them), so the kernel passes the event
        # metadata through alongside the computed cell
        def assign_events(batches, cents=cents):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
                yield pd.DataFrame(
                    {
                        "__pk": pdf["__pk"],
                        "cell": _assign_np(V, cents),
                        "_change_type": pdf["_change_type"],
                        "_log_offset": pdf["_log_offset"],
                    }
                )

        pk_ddl = parse_type(base.schema.fields[
            [f.name for f in base.schema.fields].index(pk0)
        ].type).simpleString()
        assigned = events.mapInPandas(
            assign_events,
            f"__pk {pk_ddl}, cell int, _change_type string, _log_offset long",
        )
        final = assigned.groupBy("cell", "__pk").agg(
            F.max_by("_change_type", F.col("_log_offset")).alias("__ct")
        )
        # persist the folded batch (O(changed vectors)): the upsert's
        # bucket-discovery job, seed probe, and commit write would
        # otherwise each re-run the mapInPandas assignment + groupBy
        batch = final.select(
            "cell",
            F.col("__pk").alias(pk0),
            F.when(F.col("__ct").isin("-U", "-D"), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias(OP_COL),
        ).persist()
        try:
            idx.upsert(batch, ordering=[pk0])
        finally:
            batch.unpersist()
    cl.unpersist()

    sch = catalog.get_schema(db, idx_name)
    sch.properties[VINDEX_SYNC_PROP] = json.dumps(sl.end, sort_keys=True)
    sch.properties[VINDEX_EPOCH_PROP] = sl.epoch
    catalog.set_schema(db, idx_name, sch)
    return n


def vector_search(
    catalog: Catalog,
    db: str,
    table: str,
    column: str,
    queries: DataFrame,
    spark: SparkSession,
    k: int = 10,
    nprobe: int = 1,
    exclude_self: bool = False,
) -> DataFrame:
    """ANN search through the index: assign each query to its nprobe
    nearest cells (map-side), restrict candidates to those cells via
    the index (a bucket-pruned equi-join, never a corpus scan), resolve
    candidate vectors from the base snapshot (the L4 lookup-join
    shape), and score each cell group in one BLAS kernel. With
    nprobe > 1 a final per-query window re-reduces the per-cell top-k
    (nprobe * k rows per query — metadata-sized).

    `queries` must carry (query_id, v) — query_id is an INDEPENDENT
    namespace from the base table's primary keys by default; set
    `exclude_self=True` only when query ids ARE base pks (self-join
    ANN over the indexed table), so a row doesn't retrieve itself.
    Returns (query_id, neighbor_id, cosine, rank)."""
    from pyspark.sql.window import Window

    from fluss_spark.operators.similarity import cell_cosine_topk

    base = FlussTable(catalog, db, table)
    idx = FlussTable(catalog, db, vindex_table_name(table, column))
    pk0 = base.schema.primary_key[0]
    cents = _load_centroids(idx)

    import numpy as np
    import pandas as pd

    def probe(batches, cents=cents, nprobe=nprobe):
        C = np.asarray([cv for _, cv in cents], dtype=np.float64)
        cids = np.asarray([cid for cid, _ in cents])
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            d2 = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
            order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
            out_q, out_c, out_v = [], [], []
            for i, qid in enumerate(pdf["query_id"]):
                for j in order[i]:
                    out_q.append(qid)
                    out_c.append(int(cids[j]))
                    out_v.append(pdf["v"].iloc[i])
            yield pd.DataFrame({"query_id": out_q, "cell": out_c, "v": out_v})

    probed = queries.select("query_id", "v").mapInPandas(
        probe, "query_id long, cell int, v array<double>"
    )
    cand = (
        idx.snapshot(spark)
        .join(
            base.snapshot(spark).select(
                F.col(pk0),
                F.transform(column, lambda x: x.cast("double")).alias("v"),
            ),
            pk0,
        )
        .select(F.col(pk0).alias("vec_id"), "cell", "v")
    )
    per_cell = cell_cosine_topk(
        probed.select(F.col("query_id").alias("vec_id"), "cell", "v"),
        cand,
        k,
        exclude_self=exclude_self,
    )
    if nprobe <= 1:
        return per_cell
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        per_cell.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("__rk").alias("rank"))
    )
