"""Secondary indexes over primary-key tables.

The reference's lookup surface stops at L1 (full primary key,
Lookuper.java:43-56) and L2 (bucket-key prefix of the pk,
Lookup.java:66-105): point access by any OTHER column is a full scan.
A secondary index closes that gap using only the engine's own
primitives — the index IS a primary-key table:

    index schema:  primary_key = [col, *base_pk]
                   bucket_keys = [col]          (the L2 contract:
                                                 bucket key = pk prefix)

so `lookup_by` is exactly the L2 prefix-lookup plan — the owning
bucket resolves driver-side, ONE data dir is scanned — and index
maintenance is an incremental changelog consumer (T4): each sync reads
the base table's changelog from the last synced offsets and folds it
into index upserts/deletes. Rows whose indexed value is NULL are not
indexed (a NULL never equals a lookup value).

Scale design: a sync shuffles only the NEW changelog slice, grouped by
(indexed value, pk) — per-pair resolution needs no global order
because a pk's events all live in one bucket, where offsets are
totally ordered. The index write is a normal engine transaction
(bucketed by the indexed column, O(batch) fold). A lookup reads one
index bucket dir, then prunes the base scan with the (small) pk set —
an IN-filter on a single-column pk (row-group stats pruning) or a
broadcast semi-join otherwise.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_spark.catalog import Catalog
from fluss_spark.operators.replay import OP_COL
from fluss_spark.sources.log import LogSlice
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema

INDEX_BASE_PROP = "index.base-table"
INDEX_COL_PROP = "index.column"
INDEX_SYNC_PROP = "index.synced-offsets"
INDEX_EPOCH_PROP = "index.synced-bucket-epoch"

# index_lookup regime thresholds (hit-pk count): up to the first an
# IN-filter is pushed to the scan, up to the second the hit set is
# broadcast, beyond that a shuffle semi-join (never broadcast an
# unbounded hot-value pk set)
_IN_FILTER_MAX_PKS = 10_000
_BROADCAST_MAX_PKS = 1_000_000


def index_table_name(table: str, column: str) -> str:
    return f"{table}__idx__{column}"


def create_index(
    catalog: Catalog, db: str, table: str, column: str, spark: SparkSession
) -> FlussTable:
    """Create (and initially populate) a secondary index on `column`."""
    base = FlussTable(catalog, db, table)
    if base.kv is None:
        raise ValueError("secondary indexes require a primary-key base table")
    pk = base.schema.primary_key
    if column in pk:
        raise ValueError(f"{column} is part of the primary key; use L1/L2 lookups")
    fields = {f.name: f for f in base.schema.fields}
    if column not in fields:
        raise ValueError(f"no such column: {column}")
    if base.schema.changelog_image == "wal":
        # index sync removes stale mappings via -U before-images; a
        # wal-image changelog drops UPDATE_BEFORE rows, so a value
        # change would leave a permanent stale entry at the old value
        raise ValueError(
            "secondary indexes require table.changelog.image='full' "
            "(wal-image changelogs drop the UPDATE_BEFORE rows the "
            "index sync uses to retract old-value mappings)"
        )
    schema = TableSchema(
        fields=[Field(column, fields[column].type, nullable=False)]
        + [Field(c, fields[c].type, nullable=False) for c in pk],
        primary_key=[column] + list(pk),
        bucket_keys=[column],
        num_buckets=base.schema.num_buckets,
        properties={
            INDEX_BASE_PROP: f"{db}.{table}",
            INDEX_COL_PROP: column,
            INDEX_SYNC_PROP: "{}",
        },
    )
    idx = create_table(catalog, db, index_table_name(table, column), schema)
    # Bootstrap from the SNAPSHOT, not the changelog: the live image is
    # O(rows) while the changelog is O(history) — on a long-lived table
    # the full-history fold reads every superseded event and every
    # before-image just to retract them again, whereas the snapshot
    # already IS the folded state (the vector index bootstraps the same
    # way, vector_index.py). The seed and the recorded offsets come
    # from ONE pinned commit, so a commit landing after the pin is
    # folded once, by the next sync. Crash safety keeps the sync-prop
    # write LAST: dying between the seed upsert and the prop write
    # leaves INDEX_SYNC_PROP at its empty record, so the next sync
    # folds from offset zero over the seed — idempotent, self-healing
    # AS LONG AS the full changelog is still retained and the base was
    # never rebucketed; that empty record is a recorded cursor, so the
    # sync's retention and epoch fences refuse a recovery that cannot
    # resume safely.
    pin = base.log.slice_from(None, None, _remedy(table, column))
    seed = (
        base.snapshot(spark, version=pin.version)
        .filter(F.col(column).isNotNull())
        .select(column, *pk)
        .withColumn(OP_COL, F.lit("U"))
    )
    idx.upsert(seed, ordering=pk)
    _record(catalog, db, index_table_name(table, column), pin)
    return idx


def _remedy(table: str, column: str) -> str:
    return (
        f"drop and recreate the index ({index_table_name(table, column)}), "
        "and keep table.log.ttl above the sync interval"
    )


def _record(catalog: Catalog, db: str, idx_name: str, sl: LogSlice) -> None:
    sch = catalog.get_schema(db, idx_name)
    sch.properties[INDEX_SYNC_PROP] = json.dumps(sl.end, sort_keys=True)
    sch.properties[INDEX_EPOCH_PROP] = sl.epoch
    catalog.set_schema(db, idx_name, sch)


def sync_index(
    catalog: Catalog, db: str, table: str, column: str, spark: SparkSession
) -> int:
    """Fold the base changelog since the last sync into the index (T4
    consumption): per (indexed value, pk) pair the LAST event in the
    slice decides — +I/+U inserts the mapping, -U/-D removes it. All
    events of a pair share the pk's bucket, so `max_by(_log_offset)`
    is a total order per pair. Returns changelog rows consumed."""
    base = FlussTable(catalog, db, table)
    idx_name = index_table_name(table, column)
    idx = FlussTable(catalog, db, idx_name)
    pk = base.schema.primary_key
    # the recorded cursor, fenced by slice_from: an EMPTY sync map (a
    # create_index that crashed before its prop write) is recorded too,
    # so it resumes from offset zero only while the base was never
    # rebucketed and none of its changelog expired
    sl = base.log.slice_from(
        json.loads(idx.schema.properties.get(INDEX_SYNC_PROP, "{}")),
        idx.schema.properties.get(INDEX_EPOCH_PROP, "0"),
        _remedy(table, column),
    )
    cl = base.changelog(spark, start_offsets=sl.start, end_offsets=sl.end)
    # one pass over the slice: the emptiness probe and the fold read
    # the same cached blocks instead of scanning the changelog twice
    cl = cl.persist()
    n = cl.count()
    if n:
        final = (
            cl.filter(F.col(column).isNotNull())
            .groupBy(column, *pk)
            .agg(F.max_by("_change_type", F.col("_log_offset")).alias("__ct"))
        )
        # persist the folded batch (O(changed index keys)): the index
        # upsert's bucket-discovery job, seed probe, and commit write
        # would otherwise each re-run this groupBy exchange
        batch = final.select(
            column,
            *pk,
            F.when(F.col("__ct").isin("-U", "-D"), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias(OP_COL),
        ).persist()
        try:
            idx.upsert(batch, ordering=pk)
        finally:
            batch.unpersist()
    cl.unpersist()

    # record the slice end AFTER the index commit (crash between the
    # two re-consumes a slice; the fold is idempotent — re-applying the
    # same final actions yields the same index state)
    _record(catalog, db, idx_name, sl)
    return n


def index_lookup(
    catalog: Catalog,
    db: str,
    table: str,
    column: str,
    value,
    spark: SparkSession,
) -> DataFrame:
    """Point access by a non-key column: L2 prefix lookup on the index
    (one bucket dir) -> pk set -> pruned base read. Selective values
    are the contract (like any secondary index); three regimes by hit
    count: <=10k pks collect into an IN-filter (pushes to the scan,
    row-group stats prune), <=1M broadcast semi-join (hits stay
    distributed), beyond that a SHUFFLE semi-join — a hot index value
    with 100M base pks must never be broadcast (driver OOM /
    maxResultSize at scale)."""
    base = FlussTable(catalog, db, table)
    idx = FlussTable(catalog, db, index_table_name(table, column))
    pk = base.schema.primary_key
    hits = idx.prefix_lookup(spark, {column: value}).select(*pk)
    if len(pk) == 1:
        keys = [r[pk[0]] for r in hits.limit(_IN_FILTER_MAX_PKS + 1).collect()]
        if len(keys) <= _IN_FILTER_MAX_PKS:
            if not keys:
                return base.snapshot(spark).limit(0)
            # IN-filter pushes to the scan; row-group stats prune
            return base.snapshot(spark).filter(F.col(pk[0]).isin(keys))
    if hits.limit(_BROADCAST_MAX_PKS + 1).count() <= _BROADCAST_MAX_PKS:
        return base.snapshot(spark).join(
            F.broadcast(hits), on=list(pk), how="left_semi"
        )
    # non-selective value: shuffle semi-join; hint both ways so AQE
    # doesn't re-plan the big hit set back into a broadcast
    return base.snapshot(spark).join(
        hits.hint("shuffle_hash"), on=list(pk), how="left_semi"
    )
