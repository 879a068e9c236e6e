"""Driver-facing queries that exercise the TABLE ENGINE itself:
events are replayed through real engine tables (create → upsert →
scan/lookup/changelog) and the result is oracle-checked against SQL
window functions over the same raw events.

This is the correctness gate for SURVEY §2.4 (upsert/merge/changelog),
§2.3 (lookups), S5/S6 (hybrid snapshot+log), and P6 (partition pruning):
the oracle recomputes what the merge engine must converge to.
"""

from __future__ import annotations

import atexit
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_spark import fsops
from fluss_spark.catalog import Catalog
from fluss_spark.registry import load, register
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import Field, TableSchema

# one engine build per (variant, sf_dir) per process — queries share it
_CACHE: dict[tuple[str, str], tuple[Catalog, str]] = {}
_TMPDIRS: list[str] = []


@atexit.register
def _cleanup() -> None:
    for d in _TMPDIRS:
        fsops.remove(d)


def _events_batch(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "events").select("event_id", "user_id", "event_type", "value")


def _footer_max(sf: str, table: str, column: str) -> int:
    """max(column) from the parquet footer statistics — driver-side
    metadata read instead of a Spark aggregation job per build. The
    driver testdata always carries row-group stats for these id
    columns; a stat-less row group is a hard error, not a silent skip."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(os.path.join(sf, f"{table}.parquet"))
    idx = md.schema.names.index(column)
    stats = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
    if any(st is None or not st.has_min_max for st in stats):
        raise ValueError(f"{table}.{column}: row group without min/max statistics")
    return max(int(st.max) for st in stats)


def _max_event_id(sf: str) -> int:
    return _footer_max(sf, "events", "event_id")


def _max_doc_id(sf: str) -> int:
    return _footer_max(sf, "documents", "doc_id")


def _max_vec_id(sf: str) -> int:
    return _footer_max(sf, "embeddings", "vec_id")


def _bulk(t: FlussTable, df: DataFrame, **kw):
    """Bulk-load upsert: the batch is a corpus-wide slice whose bucket
    keys (uniform ids/users/hashes) span every bucket, so the
    all-buckets superset skips the per-commit bucket-discovery job
    (~0.1s/commit of pure scheduling at any SF). `batch_buckets` is a
    SUPERSET contract — always correct — and for these batches the
    bounded seed equals the full snapshot anyway, so no extra bytes are
    read. Selective batches (single partitions, point writes) must NOT
    use this: discovery is what keeps their seed read O(touched)."""
    return t.upsert(df, batch_buckets=list(range(t.schema.num_buckets)), **kw)


def _bulk_many(t: FlussTable, dfs: list[DataFrame], **kw):
    """Group-committed bulk load: N corpus-slice batches through ONE
    fused transaction and write action (guide §1.2 — the reference
    amortizes its per-commit round trip the same way). Produces the
    same N commit versions, byte-identical WAL and identical final
    snapshot as N sequential _bulk calls (pinned by
    tests/test_group_commit.py); saves N-1 write actions + snapshot
    rewrites per lifecycle build. Same all-buckets superset contract as
    _bulk."""
    return t.upsert_many(
        dfs, batch_buckets=list(range(t.schema.num_buckets)), **kw
    )


def _par(*thunks):
    """Run independent commit thunks from a small driver thread pool
    (guide §2.6 job overlap): while one table's commit sits in its
    driver-side phase (plan construction, publish renames), the other
    table's write job back-fills the idle executors. ONLY for actions
    on DIFFERENT tables — same-table commits must serialize (or go
    through upsert_optimistic). Safe under the reentrant AQE scope in
    kv.py; job descriptions/groups are thread-local in Spark."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        return [f.result() for f in futs]


def _build(spark: SparkSession, sf: str, variant: str) -> FlussTable:
    key = (variant, sf)
    if key in _CACHE:
        cat, name = _CACHE[key]
        return FlussTable(cat, "db", name)
    wh = tempfile.mkdtemp(prefix=f"fluss_eq_{variant}_")
    _TMPDIRS.append(wh)
    cat = Catalog(wh)
    # ivf_state builds from embeddings only — binding events here would
    # fail on an embeddings-only corpus dir (spark.read resolves the
    # path eagerly at plan time)
    ev = None if variant == "ivf_state" else _events_batch(spark, sf)

    if variant == "default":
        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        # two batches -> exercises the cross-commit snapshot seed. NOT
        # group-committed: m19_snapshot_time_travel reads the oldest
        # snapshot_version > 0 of this shared build — both versions must
        # stay MATERIALIZED snapshot versions, which a group's WAL-only
        # intermediate is not.
        half = _max_event_id(sf) // 2
        _bulk(t, ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        _bulk(t, ev.filter(F.col("event_id") > half), ordering=["event_id"])
    elif variant == "first_row":
        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
            properties={"table.merge-engine": "first_row"},
        )
        t = create_table(cat, "db", variant, schema)
        _bulk(t, ev, ordering=["event_id"])
    elif variant == "versioned":
        schema = TableSchema(
            fields=[
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
                Field("ver", "BIGINT"),
            ],
            primary_key=["user_id"],
            num_buckets=8,
            properties={
                "table.merge-engine": "versioned",
                "table.merge-engine.versioned.ver-column": "ver",
            },
        )
        t = create_table(cat, "db", variant, schema)
        _bulk(t, ev.withColumn("ver", F.col("event_id") % 97), ordering=["event_id"])
    elif variant == "aggregation":
        schema = TableSchema(
            fields=[
                Field("user_id", "BIGINT"),
                Field("sum_value", "DOUBLE", agg="sum"),
                Field("max_value", "DOUBLE", agg="max"),
                Field("min_value", "DOUBLE", agg="min"),
                Field("first_type", "STRING", agg="first_value"),
                Field("last_type", "STRING", agg="last_value"),
                Field("n_events", "BIGINT", agg="sum"),
            ],
            primary_key=["user_id"],
            num_buckets=8,
            properties={"table.merge-engine": "aggregation"},
        )
        t = create_table(cat, "db", variant, schema)
        batch = ev.select(
            "event_id",
            "user_id",
            F.col("value").alias("sum_value"),
            F.col("value").alias("max_value"),
            F.col("value").alias("min_value"),
            F.col("event_type").alias("first_type"),
            F.col("event_type").alias("last_type"),
            F.lit(1).cast("bigint").alias("n_events"),
        )
        _bulk(t, batch, ordering=["event_id"])
    elif variant == "part_log":
        schema = TableSchema(
            fields=[
                Field("event_id", "BIGINT"),
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            partition_keys=["event_type"],
            num_buckets=4,
        )
        t = create_table(cat, "db", variant, schema)
        t.append(ev, ordering=["event_id"])
    elif variant == "part_pk":
        # PARTITIONED primary-key table (reference: partitioned pk
        # tables with auto-partitioning, W4; partition keys must be a
        # subset of the pk). Commits take the single-action fused write
        # with partition dirs above the bucket dirs on both the WAL and
        # snapshot siblings — the only registered query exercising the
        # partitioned pk layout end-to-end.
        schema = TableSchema(
            fields=[
                Field("event_type", "STRING", nullable=False),
                Field("user_id", "BIGINT", nullable=False),
                Field("value", "DOUBLE"),
            ],
            primary_key=["event_type", "user_id"],
            partition_keys=["event_type"],
            num_buckets=4,
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        batch = ev.select("event_type", "user_id", "value", "event_id")
        t.upsert_many([
            batch.filter(F.col("event_id") <= half),
            batch.filter(F.col("event_id") > half),
        ], ordering=["event_id"])
    elif variant == "pair_pk":
        # pair-granular commit lifecycle (m15): after a cross-partition
        # seed commit, a SINGLE-PARTITION commit advances only the
        # 'click' pairs — every other partition's snapshot files stay
        # untouched bytes behind their older manifest entries (the
        # (partition, bucket)-pair snapshot unit, sources/kv.py)
        schema = TableSchema(
            fields=[
                Field("event_type", "STRING", nullable=False),
                Field("user_id", "BIGINT", nullable=False),
                Field("value", "DOUBLE"),
            ],
            primary_key=["event_type", "user_id"],
            partition_keys=["event_type"],
            num_buckets=4,
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        batch = ev.select("event_type", "user_id", "value", "event_id")
        t.upsert(batch.filter(F.col("event_id") <= half), ordering=["event_id"])
        t.upsert(
            batch.filter(
                (F.col("event_id") > half) & (F.col("event_type") == "click")
            ),
            ordering=["event_id"],
        )
    elif variant == "deletes":
        # events of type 'error' are DELETE ops for that key
        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        from fluss_spark.operators.replay import OP_COL

        batch = ev.withColumn(
            OP_COL, F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U"))
        )
        _bulk(t, batch, ordering=["event_id"])
    elif variant == "partial":
        # batch 1: full rows from the first half; batch 2: value-only
        # partial updates from the second half
        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        _bulk(t, ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        _bulk(t,
            ev.filter(F.col("event_id") > half).select("event_id", "user_id", "value"),
            ordering=["event_id"],
            partial_update_cols=["user_id", "value"],
        )
    elif variant == "prefix":
        # composite pk (user_id, event_type), bucket key = prefix (user_id)
        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id", "event_type"],
            bucket_keys=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        _bulk(t, ev, ordering=["event_id"])
    elif variant == "prefix_part":
        # partitioned composite pk (event_type, user_id, event_id),
        # partition = event_type, bucket key = user_id: the L2
        # partitioned contract (partition fields + bucket key probe)
        schema = TableSchema(
            fields=[
                Field("event_type", "STRING", nullable=False),
                Field("user_id", "BIGINT"),
                Field("event_id", "BIGINT"),
                Field("value", "DOUBLE"),
            ],
            primary_key=["event_type", "user_id", "event_id"],
            partition_keys=["event_type"],
            bucket_keys=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        t.upsert(
            ev.select("event_type", "user_id", "event_id", "value"),
            ordering=["event_id"],
        )
    elif variant == "bucketed_log":
        # W1-W3: explicit bucket key -> deterministic hash spread (a
        # bucketless log buckets by writer partition id, which depends
        # on input splits)
        schema = TableSchema(
            fields=[
                Field("event_id", "BIGINT"),
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            bucket_keys=["user_id"],
            num_buckets=4,
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        t.append(ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        t.append(ev.filter(F.col("event_id") > half), ordering=["event_id"])
    elif variant == "plain_log":
        schema = TableSchema(
            fields=[
                Field("event_id", "BIGINT"),
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            num_buckets=4,
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        t.append(ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        # remember the between-commits offsets for time travel (S8)
        import json as _json

        fsops.write_atomic(f"{wh}/mid_offsets.json", _json.dumps(t.latest_offsets()))
        t.append(ev.filter(F.col("event_id") > half), ordering=["event_id"])
    elif variant == "dedup_state":
        # dedup-as-storage: FIRST_ROW merge on pk=fingerprint keeps the
        # canonical (first-arriving) document per normalized-text hash —
        # the engine IS the dedup state store, fed incrementally across
        # two commits (the continuous-ingest shape of dd_exact)
        schema = TableSchema(
            fields=[
                Field("fingerprint", "STRING"),
                Field("doc_id", "BIGINT"),
                Field("lang", "STRING"),
                Field("source", "STRING"),
            ],
            primary_key=["fingerprint"],
            num_buckets=4,
            properties={"table.merge-engine": "first_row"},
        )
        t = create_table(cat, "db", variant, schema)
        docs = load(spark, sf, "documents").select(
            F.md5(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").cast("binary")
            ).alias("fingerprint"),
            "doc_id",
            "lang",
            "source",
        )
        # one corpus fingerprint pass serves the split probe and both
        # commits' (discovery + write) evaluations
        docs = docs.persist()
        try:
            half_doc = docs.agg(F.max("doc_id")).first()[0] // 2
            _bulk(t, docs.filter(F.col("doc_id") <= half_doc), ordering=["doc_id"])
            _bulk(t, docs.filter(F.col("doc_id") > half_doc), ordering=["doc_id"])
        finally:
            docs.unpersist()
    elif variant == "lsh_state":
        # NEAR-dup dedup as storage semantics: the LSH band-signature
        # index is itself an engine pk table — pk=(band, band_sig) with
        # FIRST_ROW merge keeps the first-arriving (lowest doc_id, via
        # the fold ordering) document per bucket, fed incrementally
        # across two commits over the 90%-"already ingested" corpus.
        # New batches then probe the SNAPSHOT (dd_incremental_lsh) — the
        # continuous-ingest shape of dd_minhash_lsh, no corpus-wide
        # re-clustering per batch.
        from fluss_spark.operators.dedup import banded_signature, lsh_params, sig_stage

        schema = TableSchema(
            fields=[
                Field("band", "INT"),
                Field("band_sig", "STRING"),
                Field("doc_id", "BIGINT"),
            ],
            primary_key=["band", "band_sig"],
            num_buckets=8,
            properties={"table.merge-engine": "first_row"},
        )
        t = create_table(cat, "db", variant, schema)
        r_rows, n_bands = lsh_params(sf)
        cutoff = _max_doc_id(sf) * 9 // 10
        staged = sig_stage(spark, sf).filter(F.col("doc_id") <= cutoff)
        banded = staged.select(
            "doc_id", F.explode(banded_signature(F.col("sig"), n_bands, r_rows)).alias("b")
        ).select(
            F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig"), "doc_id"
        )
        # one shingle->minhash->banding pass serves both commits' fold
        # and discovery evaluations
        banded = banded.persist()
        try:
            _bulk(t, banded.filter(F.col("doc_id") <= cutoff // 2), ordering=["doc_id"])
            _bulk(t, banded.filter(F.col("doc_id") > cutoff // 2), ordering=["doc_id"])
        finally:
            banded.unpersist()
    elif variant == "ivf_state":
        # vector-index-as-storage: the IVF coarse-quantizer assignment of
        # the "already ingested" corpus (first 90% of vec_ids) lives in
        # an engine pk table — pk=(cell, vec_id), bucket_key=[cell] (the
        # L2 contract), so probing a cell is a single-bucket read. The
        # trained centroids are INDEX METADATA, persisted as a table
        # property, which is what lets later batches assign against the
        # same quantizer without retraining. Fed incrementally across
        # two commits (the continuous-ingest shape of ann_ivf_topk).
        import json as _json

        from fluss_spark.operators.similarity import (
            _KM_ITERS,
            _KM_K,
            _embeddings,
            assign_cells,
            kmeans_centroids,
        )

        cut = _max_vec_id(sf) * 9 // 10
        e_old = _embeddings(spark, sf).filter(F.col("vec_id") <= cut)
        cents = kmeans_centroids(e_old, k=_KM_K, iters=_KM_ITERS)
        schema = TableSchema(
            fields=[Field("cell", "INT"), Field("vec_id", "BIGINT")],
            primary_key=["cell", "vec_id"],
            bucket_keys=["cell"],
            num_buckets=8,
            properties={"index.ivf.centroids": _json.dumps(cents)},
        )
        t = create_table(cat, "db", variant, schema)
        # one cell-assignment kernel pass serves both commits' fold and
        # discovery evaluations
        assigned = assign_cells(e_old, cents).select("cell", "vec_id").persist()
        try:
            _bulk_many(t, [
                assigned.filter(F.col("vec_id") <= cut // 2),
                assigned.filter(F.col("vec_id") > cut // 2),
            ], ordering=["vec_id"])
        finally:
            assigned.unpersist()
    elif variant == "vindexed":
        # first-class vector-index lifecycle: base pk table holding the
        # embeddings, IVF index created (trains + freezes the quantizer
        # into index properties), then a slice of vectors is NEGATED —
        # guaranteed cross-cell moves — and one incremental sync folds
        # the changelog (before-image deletes at the old cell,
        # after-image inserts at the new cell)
        from fluss_spark.operators.similarity import _KM_ITERS, _KM_K, _embeddings
        from fluss_spark.vector_index import create_vector_index, sync_vector_index

        schema = TableSchema(
            fields=[
                Field("vec_id", "BIGINT", nullable=False),
                Field("emb", "ARRAY<DOUBLE>"),
                Field("label", "INT"),
            ],
            primary_key=["vec_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        e = _embeddings(spark, sf)
        _bulk(t,
            e.select("vec_id", F.col("v").alias("emb"), "label"),
            ordering=["vec_id"],
        )
        create_vector_index(cat, "db", variant, "emb", spark, k=_KM_K, iters=_KM_ITERS)
        upd = e.filter(F.col("vec_id") % 13 == 0).select(
            "vec_id",
            F.transform("v", lambda x: -x).alias("emb"),
            "label",
        )
        _bulk(t, upd, ordering=["vec_id"])
        sync_vector_index(cat, "db", variant, "emb", spark)
    elif variant == "tiered_log":
        # S9: auto-tiering on the append path — after 4 commits only the
        # newest stays local, 3 sealed commits live in the remote tier
        schema = TableSchema(
            fields=[
                Field("event_id", "BIGINT"),
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            num_buckets=4,
            properties={
                "table.log.tiered.enable": "true",
                "table.log.tiered.local-segments": "1",
            },
        )
        t = create_table(cat, "db", variant, schema)
        quarter = _max_event_id(sf) // 4
        for i in range(4):
            batch = ev.filter(F.col("event_id") >= i * quarter) if i == 3 else (
                ev.filter((F.col("event_id") >= i * quarter) & (F.col("event_id") < (i + 1) * quarter))
            )
            t.append(batch, ordering=["event_id"])
    elif variant == "indexed":
        # secondary-index lifecycle: pk=event_id, index on user_id;
        # initial sync over two commits, then deletes + index-key moves
        # folded in by an incremental sync
        from fluss_spark.indexes import create_index, sync_index

        schema = TableSchema(
            fields=[
                Field("event_id", "BIGINT", nullable=False),
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            primary_key=["event_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        _bulk(t, ev, ordering=["event_id"])
        create_index(cat, "db", variant, "user_id", spark)
        t.delete_where(spark, F.col("event_id") % 97 == 0)
        t.update_where(
            spark,
            F.col("event_id") % 101 == 0,
            {"user_id": F.col("user_id") + F.lit(1_000_000)},
        )
        sync_index(cat, "db", variant, "user_id", spark)
    elif variant == "diff_state":
        # snapshot-diff lifecycle (t15): commit 1 = first-half latest
        # rows; commit 2 = second half where 'error' events are DELETE
        # ops — so the v1->v2 diff contains inserts, updates AND deletes
        from fluss_spark.operators.replay import OP_COL

        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        b2 = ev.filter(F.col("event_id") > half).withColumn(
            OP_COL,
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
        )
        _bulk_many(
            t, [ev.filter(F.col("event_id") <= half), b2], ordering=["event_id"]
        )
    elif variant == "session_state":
        # sessionization as engine state (t14): sessions pk table fed by
        # three event batches in OUT-OF-ORDER arrival (ts tertiles
        # delivered late-middle-last: oldest, newest, THEN the middle) —
        # the middle batch must bridge and MERGE sessions already stored
        # from both ends; each batch is one mixed upsert/delete commit
        # folded by _fold_session_batch's gaps-and-islands pass
        schema = TableSchema(
            fields=[
                Field("user_id", "BIGINT", nullable=False),
                Field("session_start", "TIMESTAMP_LTZ", nullable=False),
                Field("last_ts", "TIMESTAMP_LTZ"),
                Field("n_events", "BIGINT"),
                Field("cents", "BIGINT"),
            ],
            primary_key=["user_id", "session_start"],
            bucket_keys=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        evt = load(spark, sf, "events").select("user_id", "event_id", "ts", "value")
        cuts = evt.agg(
            F.expr("percentile(cast(ts as long), array(0.33, 0.66))")
        ).collect()[0][0]
        t1, t2 = int(cuts[0]), int(cuts[1])
        for lo, hi in ((None, t1), (t2, None), (t1, t2)):
            b = evt
            if lo is not None:
                b = b.filter(F.col("ts").cast("long") > lo)
            if hi is not None:
                b = b.filter(F.col("ts").cast("long") <= hi)
            _fold_session_batch(t, spark, b)
    elif variant == "sqlmerge":
        # MERGE INTO through the SQL statement surface: target seeded
        # with latest-per-user state from the first half of events, then
        # ONE MERGE folds the second half's latest-per-user rows in —
        # matched 'error' rows delete, other matches update (SET sees
        # both aliases), unmatched non-error rows insert. The whole
        # statement is one atomic engine commit (mixed __op batch).
        from pyspark.sql.window import Window

        from fluss_spark.sql_ddl import FlussSqlSession

        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        _bulk(t, ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
        src = (
            ev.filter(F.col("event_id") > half)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_type", "value")
        )
        view = f"sqlmerge_src_{abs(hash(sf)) % 10**8}"
        src.createOrReplaceTempView(view)
        sess = FlussSqlSession(cat, spark, default_db="db")
        sess.sql(f"""
            MERGE INTO sqlmerge AS t USING {view} AS s ON t.user_id = s.user_id
            WHEN MATCHED AND s.event_type = 'error' THEN DELETE
            WHEN MATCHED THEN UPDATE SET value = round(t.value + s.value, 2),
                                         event_type = s.event_type
            WHEN NOT MATCHED AND s.event_type <> 'error' THEN
                INSERT (user_id, event_type, value)
                VALUES (s.user_id, s.event_type, round(s.value, 2))
        """)
    elif variant == "autoinc_pk":
        # auto-increment column on a pk table: an id is minted once per
        # inserted key inside the fused single-action commit window
        # (running +I count over the same bucket exchange that assigns
        # offsets), carried verbatim through every later -U/+U image of
        # the key, and the counter persists across commits (M10,
        # Schema.java:552, KvTablet.java:763-775, server/kv/autoinc/)
        schema = TableSchema(
            fields=[
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
                Field("rid", "BIGINT", auto_increment=True),
            ],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        _bulk(t, ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        _bulk(t, ev.filter(F.col("event_id") > half), ordering=["event_id"])
    elif variant == "iine":
        # L3 insert-if-not-exists lifecycle: seed a key subset, then
        # probe with EVERY key — present keys must resist the insert,
        # absent ones take a key-only stub row (non-key columns null,
        # Lookup.java:97-105)
        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        _bulk(t,
            ev.filter((F.col("event_id") <= half) & (F.col("user_id") % 3 != 0)),
            ordering=["event_id"],
        )
        t.kv.insert_if_not_exists(ev, ordering=["event_id"])
    elif variant == "deferred":
        # deferred materialization lifecycle (defer-commits=3): commits
        # 1-2 WAL-only, commit 3 triggers the cadence materialization,
        # commit 4 leaves a pending tail the hybrid read must fold
        schema = TableSchema(
            fields=[
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            primary_key=["user_id"],
            num_buckets=8,
            properties={"table.snapshot.defer-commits": "3"},
        )
        t = create_table(cat, "db", variant, schema)
        third = _max_event_id(sf) // 3
        _bulk(t, ev.filter(F.col("event_id") <= third), ordering=["event_id"])
        _bulk(t,
            ev.filter((F.col("event_id") > third) & (F.col("event_id") <= 2 * third)),
            ordering=["event_id"],
        )
        _bulk(t,
            ev.filter(
                (F.col("event_id") > 2 * third) & (F.col("event_id") <= 3 * third)
            ),
            ordering=["event_id"],
        )
        _bulk(t, ev.filter(F.col("event_id") > 3 * third), ordering=["event_id"])
    elif variant == "concurrent":
        # optimistic concurrent commits (table.commit.concurrency):
        # after a cross-partition seed, the second half lands as TWO
        # pair-disjoint writers whose Spark work overlaps — the 'click'
        # writer stages its fused commit, the other-partitions writer
        # publishes in between (the _pre_lock_hook seam), and the first
        # validates + rebases its bucket offsets on top (the reference's
        # per-TableBucket leader parallelism, ReplicaManager.java)
        schema = TableSchema(
            fields=[
                Field("event_type", "STRING", nullable=False),
                Field("user_id", "BIGINT", nullable=False),
                Field("value", "DOUBLE"),
            ],
            primary_key=["event_type", "user_id"],
            partition_keys=["event_type"],
            num_buckets=4,
            properties={"table.commit.concurrency": "optimistic"},
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        batch = ev.select("event_type", "user_id", "value", "event_id")
        t.upsert(batch.filter(F.col("event_id") <= half), ordering=["event_id"])
        t2 = FlussTable(cat, "db", variant)
        fired: list[int] = []

        def _hook():
            if not fired:
                fired.append(1)
                t2.upsert(
                    batch.filter(
                        (F.col("event_id") > half)
                        & (F.col("event_type") != "click")
                    ),
                    ordering=["event_id"],
                )

        t.upsert(
            batch.filter(
                (F.col("event_id") > half) & (F.col("event_type") == "click")
            ),
            ordering=["event_id"],
            _pre_lock_hook=_hook,
        )
        st = cat.current_commit("db", variant)
        assert st.version == 3, "expected seed + interleaved pair of commits"
    elif variant == "multi":
        # S12 multi-table client: one handle appends disjoint halves
        # into two homogeneous log tables
        from fluss_spark.table import MultiTable

        schema = TableSchema(
            fields=[
                Field("event_id", "BIGINT"),
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            num_buckets=4,
        )
        t = create_table(cat, "db", variant, schema)
        create_table(cat, "db", "multi_b", schema)
        mt = MultiTable(cat, [("db", variant), ("db", "multi_b")])
        half = _max_event_id(sf) // 2
        mt.append_all(
            {
                f"db.{variant}": ev.filter(F.col("event_id") <= half),
                "db.multi_b": ev.filter(F.col("event_id") > half),
            },
            ordering=["event_id"],
        )
    elif variant == "stream_drain":
        # T1/T2/S2: per-bucket offset subscription drained
        # availableNow-style into a sink table. Batch 0 = everything
        # available at subscribe time (earliest startup), batch 1 =
        # ONLY the commit that landed after the first drain — the
        # checkpointed offsets must fence exactly there.
        from fluss_spark.streaming.reader import LogStreamReader

        fields = [
            Field("event_id", "BIGINT"),
            Field("user_id", "BIGINT"),
            Field("event_type", "STRING"),
            Field("value", "DOUBLE"),
        ]
        t = create_table(
            cat, "db", variant, TableSchema(fields=fields, num_buckets=4)
        )
        sink = create_table(
            cat,
            "db",
            "stream_sink",
            TableSchema(
                fields=[Field("batch_id", "BIGINT")] + fields, num_buckets=4
            ),
        )
        third = _max_event_id(sf) // 3
        t.append(ev.filter(F.col("event_id") <= third), ordering=["event_id"])
        t.append(
            ev.filter(
                (F.col("event_id") > third) & (F.col("event_id") <= 2 * third)
            ),
            ordering=["event_id"],
        )
        reader = LogStreamReader(
            t, spark, checkpoint_dir=os.path.join(wh, "ckpt"), startup_mode="earliest"
        )

        def _drain(df: DataFrame, bid: int) -> None:
            sink.append(
                df.select(
                    F.lit(bid).cast("bigint").alias("batch_id"),
                    "event_id",
                    "user_id",
                    "event_type",
                    "value",
                ),
                ordering=["event_id"],
            )

        reader.process_available(_drain)
        t.append(ev.filter(F.col("event_id") > 2 * third), ordering=["event_id"])
        reader.process_available(_drain)
    elif variant == "stream_hybrid":
        # T3 hybrid snapshot->log handoff in STREAMING form: full
        # startup on a pk table emits the snapshot as batch 0 (+I
        # rows), then the log from the snapshot's offsets — a commit
        # landing after subscribe time arrives as batch 1 WAL rows
        from fluss_spark.streaming.reader import LogStreamReader

        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        sink = create_table(
            cat,
            "db",
            "hybrid_sink",
            TableSchema(
                fields=[
                    Field("batch_id", "BIGINT"),
                    Field("change_type", "STRING"),
                    Field("user_id", "BIGINT"),
                ],
                num_buckets=4,
            ),
        )
        half = _max_event_id(sf) // 2
        _bulk(t, ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        reader = LogStreamReader(
            t, spark, checkpoint_dir=os.path.join(wh, "hckpt"), startup_mode="full"
        )

        def _drain_h(df: DataFrame, bid: int) -> None:
            sink.append(
                df.select(
                    F.lit(bid).cast("bigint").alias("batch_id"),
                    F.col("_change_type").alias("change_type"),
                    "user_id",
                ),
                ordering=["user_id"],
            )

        reader.process_available(_drain_h)
        _bulk(t, ev.filter(F.col("event_id") > half), ordering=["event_id"])
        reader.process_available(_drain_h)
    elif variant == "deferred_stream":
        # T3 hybrid handoff over a DEFERRED base (the reference's
        # HybridSnapshotLogSplit when the KV snapshot lags the log,
        # flink/source/split/HybridSnapshotLogSplit.java:37): at
        # subscribe time the state lives entirely in the uncovered WAL
        # tail (two WAL-only commits, no materialization yet) — batch 0
        # must fold materialized files + tail, and the subscription must
        # resume from the FULL high watermarks, not the stale snapshot's.
        # Mid-stream, commit 3 triggers the cadence materialization
        # (invisible to the reader: no offsets move) and commit 4 leaves
        # a fresh pending tail; batch 1 is exactly their WAL slice.
        from fluss_spark.streaming.reader import LogStreamReader

        schema = TableSchema(
            fields=[
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            primary_key=["user_id"],
            num_buckets=8,
            properties={"table.snapshot.defer-commits": "3"},
        )
        t = create_table(cat, "db", variant, schema)
        sink = create_table(
            cat,
            "db",
            "deferred_stream_sink",
            TableSchema(
                fields=[
                    Field("batch_id", "BIGINT"),
                    Field("change_type", "STRING"),
                    Field("user_id", "BIGINT"),
                ],
                num_buckets=4,
            ),
        )
        third = _max_event_id(sf) // 3
        _bulk(t, ev.filter(F.col("event_id") <= third), ordering=["event_id"])
        _bulk(t,
            ev.filter((F.col("event_id") > third) & (F.col("event_id") <= 2 * third)),
            ordering=["event_id"],
        )
        st = cat.current_commit("db", variant)
        assert st.snapshot_version < st.version, "expected a pending WAL tail at subscribe time"
        reader = LogStreamReader(
            t, spark, checkpoint_dir=os.path.join(wh, "dckpt"), startup_mode="full"
        )

        def _drain_d(df: DataFrame, bid: int) -> None:
            sink.append(
                df.select(
                    F.lit(bid).cast("bigint").alias("batch_id"),
                    F.col("_change_type").alias("change_type"),
                    "user_id",
                ),
                ordering=["user_id"],
            )

        reader.process_available(_drain_d)
        _bulk(t,
            ev.filter(
                (F.col("event_id") > 2 * third) & (F.col("event_id") <= 3 * third)
            ),
            ordering=["event_id"],
        )  # triggers the cadence materialization
        _bulk(t, ev.filter(F.col("event_id") > 3 * third), ordering=["event_id"])
        st = cat.current_commit("db", variant)
        assert st.snapshot_version > 0, "expected a mid-stream materialization"
        assert st.snapshot_version < st.version, "expected a fresh pending tail"
        reader.process_available(_drain_d)
    elif variant == "delta_join_indexed":
        # L5 as the reference actually builds it in Flink 2.2
        # (Flink22DeltaJoinITCase.java): join state lives in STORAGE —
        # each side's delta probes the other pk TABLE through its
        # bucket-key index, pairs upsert into a pair-keyed pk sink, the
        # operator itself holds only offsets. Two interleaved commit
        # rounds with a drain between exercise both probe directions
        # and pair updates.
        from fluss_spark.streaming.delta_join import DeltaJoin

        def _side_schema():
            return TableSchema(
                fields=[
                    Field("user_id", "BIGINT", nullable=False),
                    Field("event_id", "BIGINT"),
                    Field("value", "DOUBLE"),
                ],
                primary_key=["user_id"],
                num_buckets=8,
            )

        left = create_table(cat, "db", variant, _side_schema())
        right = create_table(cat, "db", "dj_right_tbl", _side_schema())
        sink = create_table(
            cat,
            "db",
            "dj_indexed_sink",
            TableSchema(
                fields=[
                    Field("user_id", "BIGINT", nullable=False),
                    Field("l_event_id", "BIGINT"),
                    Field("l_value", "DOUBLE"),
                    Field("r_event_id", "BIGINT"),
                    Field("r_value", "DOUBLE"),
                ],
                primary_key=["user_id"],
                num_buckets=8,
            ),
        )
        dj = DeltaJoin(left, right, on=["user_id"], sink=sink)
        half = _max_event_id(sf) // 2
        ev2 = ev.select("user_id", "event_id", "value")
        even, odd = F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1
        # left/right are DIFFERENT tables: their commits are independent
        # and overlap from driver threads (guide §2.6) — each drain still
        # runs after BOTH its feeding commits
        _par(
            lambda: _bulk(left, ev2.filter(even & (F.col("event_id") <= half)), ordering=["event_id"]),
            lambda: _bulk(right, ev2.filter(odd & (F.col("event_id") <= half)), ordering=["event_id"]),
        )
        dj.process_available(spark)
        _par(
            lambda: _bulk(left, ev2.filter(even & (F.col("event_id") > half)), ordering=["event_id"]),
            lambda: _bulk(right, ev2.filter(odd & (F.col("event_id") > half)), ordering=["event_id"]),
        )
        dj.process_available(spark)
        t = FlussTable(cat, "db", variant)
    elif variant == "stream_redelivery":
        # T7 exactly-once: a consumer processes a batch but CRASHES
        # before commit_batch — a fresh reader on the same checkpoint
        # must re-read EXACTLY the same offset range under the same
        # batch id (batch-id-keyed idempotence, the engine's analog of
        # writer-id dedup). The sink deliberately keeps both deliveries
        # so the query can prove the redelivery was byte-identical.
        from fluss_spark.streaming.reader import LogStreamReader

        fields = [
            Field("event_id", "BIGINT"),
            Field("user_id", "BIGINT"),
            Field("event_type", "STRING"),
            Field("value", "DOUBLE"),
        ]
        t = create_table(
            cat, "db", variant, TableSchema(fields=fields, num_buckets=4)
        )
        sink = create_table(
            cat,
            "db",
            "redelivery_sink",
            TableSchema(
                fields=[Field("batch_id", "BIGINT")] + fields, num_buckets=4
            ),
        )
        half = _max_event_id(sf) // 2
        t.append(ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        t.append(ev.filter(F.col("event_id") > half), ordering=["event_id"])
        ck = os.path.join(wh, "rck")

        def _sink(df: DataFrame, bid: int) -> None:
            sink.append(
                df.select(
                    F.lit(bid).cast("bigint").alias("batch_id"),
                    "event_id",
                    "user_id",
                    "event_type",
                    "value",
                ),
                ordering=["event_id"],
            )

        r1 = LogStreamReader(t, spark, checkpoint_dir=ck, startup_mode="earliest")
        df, bid = r1.poll()
        _sink(df, bid)  # processed... and the consumer dies here:
        del r1  # no commit_batch -> the checkpoint never advanced
        r2 = LogStreamReader(t, spark, checkpoint_dir=ck, startup_mode="earliest")
        n = r2.process_available(_sink)
        assert n == 1, f"expected exactly the one redelivered batch, got {n}"
    elif variant == "overwrite":
        # M8 overwrite merge mode: a correction batch FORCES its rows
        # in, bypassing the versioned engine's max-version rule that
        # would reject the lower version
        schema = TableSchema(
            fields=[
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
                Field("ver", "BIGINT"),
            ],
            primary_key=["user_id"],
            num_buckets=8,
            properties={
                "table.merge-engine": "versioned",
                "table.merge-engine.versioned.ver-column": "ver",
            },
        )
        t = create_table(cat, "db", variant, schema)
        _bulk(t, ev.withColumn("ver", F.col("event_id")), ordering=["event_id"])
        corrections = (
            ev.filter(F.col("user_id") % 5 == 0)
            .select("user_id")
            .distinct()
            .select(
                "user_id",
                F.lit("corrected").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(0).cast("bigint").alias("ver"),
            )
        )
        _bulk(t, corrections, merge_mode="overwrite")
    elif variant == "wal_image":
        # M9 WAL changelog image: before-images are dropped, the
        # changelog is exactly the after-image stream
        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
            properties={"table.changelog.image": "wal"},
        )
        t = create_table(cat, "db", variant, schema)
        half = _max_event_id(sf) // 2
        _bulk_many(t, [
            ev.filter(F.col("event_id") <= half),
            ev.filter(F.col("event_id") > half),
        ], ordering=["event_id"])
    elif variant == "compacted":
        # T10 compaction lifecycle: four upsert commits leave four
        # snapshot dirs + four log dirs, then both tiers are compacted;
        # the fold state must be byte-identical through the rewrite
        from fluss_spark.maintenance import compact_log, compact_snapshot

        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        hi = _max_event_id(sf)
        _bulk_many(t, [
            ev.filter(
                (F.col("event_id") > i * hi // 4)
                & (F.col("event_id") <= (i + 1) * hi // 4)
            )
            for i in range(4)
        ], ordering=["event_id"])
        compact_log(t, spark, target_commits=2)
        compact_snapshot(t, spark, max_dirs=1)
    elif variant == "ttl_log":
        # W5 log TTL at commit granularity: three appends at pinned
        # commit timestamps, then expire_log_ttl with a pinned `now`
        # whose cutoff lands exactly between the first and second
        # commit — the first tertile's dir is deleted, earliest
        # readable offsets advance past it
        from fluss_spark.maintenance import expire_log_ttl

        schema = TableSchema(
            fields=[
                Field("event_id", "BIGINT"),
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            num_buckets=4,
            properties={"table.log.ttl": "10s"},
        )
        t = create_table(cat, "db", variant, schema)
        hi = _max_event_id(sf)
        t0 = 1_700_000_000_000
        for i in range(3):
            t.append(
                ev.filter(
                    (F.col("event_id") > i * hi // 3)
                    & (F.col("event_id") <= (i + 1) * hi // 3)
                ),
                ordering=["event_id"],
                commit_ts_ms=t0 + i * 60_000,
            )
        # cutoff = now - 10s = t0 + 60_000 exactly: commit 1 (ts t0) is
        # strictly older and expires; commit 2 (ts == cutoff) is kept
        expire_log_ttl(t, spark, now_ms=t0 + 70_000)
    elif variant == "sqldml":
        # row-level DELETE/UPDATE through the SQL statement surface
        # (writes.md:90-115): latest-event state per user, then two
        # set-oriented statements (the Spark generalization) and two
        # single-row full-pk statements (the reference's only shape,
        # which must take the driver-resolved single-bucket plan)
        from fluss_spark.sql_ddl import FlussSqlSession

        schema = TableSchema(
            fields=[Field("user_id", "BIGINT"), Field("event_type", "STRING"), Field("value", "DOUBLE")],
            primary_key=["user_id"],
            num_buckets=8,
        )
        t = create_table(cat, "db", variant, schema)
        _bulk(t, ev, ordering=["event_id"])
        sess = FlussSqlSession(cat, spark, default_db="db")
        sess.sql("UPDATE sqldml SET value = round(value * 1.1, 2) WHERE event_type = 'click'")
        sess.sql("UPDATE sqldml SET event_type = 'audited' WHERE user_id = 7")
        sess.sql("DELETE FROM sqldml WHERE event_type = 'error'")
        sess.sql("DELETE FROM sqldml WHERE user_id = 13")
    else:
        raise ValueError(variant)
    _CACHE[key] = (cat, variant)
    return t


# the oracle's view of "state per key after replaying events in order"
_LAST_PER_USER = """
    SELECT user_id, event_type, round(value, 2) AS value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
"""


@register("m4_default_merge_snapshot", oracle=_LAST_PER_USER)
def m4_default_merge_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Default (last-write-wins) merge engine: snapshot after replaying
    all events by pk=user_id across two commits
    (server/kv/rowmerger/DefaultRowMerger.java)."""
    t = _build(spark, sf, "default")
    return t.snapshot(spark).select("user_id", "event_type", F.round("value", 2).alias("value"))


@register(
    "m14_partitioned_pk",
    oracle="""
    SELECT user_id, round(value, 2) AS value
    FROM events
    WHERE event_type = 'click'
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    """,
)
def m14_partitioned_pk(spark: SparkSession, sf: str) -> DataFrame:
    """Partitioned PRIMARY-KEY table: pk=(event_type, user_id) with
    event_type as the partition key (the reference requires partition
    keys ⊆ pk; auto-partitioned pk tables are its W4 surface). Two
    upsert commits replay per key through the fused single-action
    commit (partition dirs above bucket dirs on both siblings), then
    the snapshot is read back pruned to ONE partition — directory
    pruning, not just row-group stats — and per-user last-write-wins
    state of the 'click' partition must equal the from-scratch SQL
    fold."""
    t = _build(spark, sf, "part_pk")
    return (
        t.snapshot(spark)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.round("value", 2).alias("value"))
    )


@register(
    "m15_pair_granular_commit",
    oracle="""
    WITH h AS (SELECT CAST(max(event_id) // 2 AS BIGINT) AS half FROM events)
    SELECT event_type, user_id, round(value, 2) AS value
    FROM events
    WHERE event_type = 'click'
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    UNION ALL
    SELECT event_type, user_id, round(value, 2) AS value
    FROM events, h
    WHERE event_type = 'view' AND event_id <= h.half
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    """,
)
def m15_pair_granular_commit(spark: SparkSession, sf: str) -> DataFrame:
    """(partition, bucket)-PAIR commit granularity end-to-end: a
    partitioned pk table seeded across all partitions, then advanced by
    a commit touching ONLY the 'click' partition — its pairs remap to
    the new data dir while every other partition's files stay untouched
    bytes behind older manifest entries (reference TableBucket
    granularity, metadata/TableBucket.java). Reading 'click' (full
    fold) next to 'view' (frozen at the seed commit) proves the pair
    boundary: the single-partition commit advanced exactly one
    partition's state. The partition filter prunes directories through
    the pair manifest."""
    t = _build(spark, sf, "pair_pk")
    return (
        t.snapshot(spark)
        .filter(F.col("event_type").isin("click", "view"))
        .select("event_type", "user_id", F.round("value", 2).alias("value"))
    )


@register(
    "m16_auto_increment",
    oracle="""
    WITH c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS u
      FROM events
    )
    SELECT CAST(2 * n - u AS BIGINT) AS n_events,
           CAST(u AS BIGINT) AS n_ids,
           CAST(u AS BIGINT) AS n_key_id_pairs,
           CAST(0 AS BIGINT) AS lo,
           CAST(u - 1 AS BIGINT) AS hi,
           CAST(u * (u - 1) // 2 AS BIGINT) AS id_sum,
           CAST(n - u AS BIGINT) AS n_before,
           CAST(0 AS BIGINT) AS n_null_ids
    FROM c
    """,
)
def m16_auto_increment(spark: SparkSession, sf: str) -> DataFrame:
    """M10 auto-increment on a PRIMARY-KEY table through the fused
    single-action commit (Schema.java:552, server/kv/autoinc/
    AutoIncrementManager): an id is minted once per inserted KEY
    (KvTablet.applyInsert, KvTablet.java:763-775), is immutable for the
    row's lifetime, and every -U before-image / +U after-image carries
    the key's existing id verbatim. Segments are packed gap-free in
    bucket order from the +I counts; the counter persists across
    commits. After two upsert commits over the full event set (N events
    over U users, no deletes) the changelog therefore holds 2N - U
    events whose distinct ids form exactly [0, U) — and because ids are
    insert-stable, the distinct (user_id, rid) PAIR count must also be
    exactly U: a single key observed under two different ids (the
    old per-event divergence) or an id shared by two keys breaks the
    pair count, while a gap, duplicate, or cross-commit counter reset
    breaks the sum or the bounds, and a before-image carrying an id
    that never existed breaks n_ids."""
    t = _build(spark, sf, "autoinc_pk")
    cl = t.changelog(spark)
    return cl.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("rid").alias("n_ids"),
        F.countDistinct("user_id", "rid").alias("n_key_id_pairs"),
        F.min("rid").alias("lo"),
        F.max("rid").alias("hi"),
        F.sum_distinct(F.col("rid")).alias("id_sum"),
        F.sum((F.col("_change_type") == "-U").cast("bigint")).alias("n_before"),
        F.sum(F.col("rid").isNull().cast("bigint")).alias("n_null_ids"),
    )


@register(
    "l3_insert_if_not_exists",
    oracle="""
    WITH h AS (SELECT CAST(max(event_id) // 2 AS BIGINT) AS half FROM events),
    pref AS (
      SELECT user_id, event_type, round(value, 2) AS value
      FROM events, h
      WHERE user_id % 3 != 0 AND event_id <= h.half
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    ),
    keys AS (SELECT DISTINCT user_id FROM events)
    SELECT k.user_id, p.event_type, p.value
    FROM keys k LEFT JOIN pref p ON k.user_id = p.user_id
    """,
)
def l3_insert_if_not_exists(spark: SparkSession, sf: str) -> DataFrame:
    """L3 insert-if-not-exists (Lookup.enableInsertIfNotExists,
    Lookup.java:97-105): a seed commit stores the first-half fold for
    users with user_id % 3 != 0 only, then insert_if_not_exists probes
    with EVERY event. Present keys must RESIST the insert (they keep
    their seeded first-half state); absent keys (the % 3 == 0 users,
    plus any user whose events all land in the second half) take a
    STUB row carrying only the lookup key — non-key columns null —
    exactly the reference's 'inserted with the lookup key values'
    miss behavior. The snapshot is therefore seeded rows beside
    key-only stubs, which the oracle reproduces with a left join of
    the probed key set against the seeded fold: an insert that
    overwrote an existing key, stored probe payload on a miss, or
    skipped an absent key shows up as a value/null mismatch."""
    t = _build(spark, sf, "iine")
    return t.snapshot(spark).select(
        "user_id", "event_type", F.round("value", 2).alias("value")
    )


@register(
    "s12_multi_table_union",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY event_type
    """,
)
def s12_multi_table_union(spark: SparkSession, sf: str) -> DataFrame:
    """S12 multi-table client (client/table/MultiTable.java,
    MultiTableBatchScanner/MultiTableWriter): one handle appends the
    event halves into TWO homogeneous log tables and scans them back
    as one DataFrame (union_scan). Per-type counts, distinct ids, id
    bounds, and int64 cent sums over the union must equal the same
    aggregates over the undivided event table — a dropped batch,
    double-read, or cross-table row leak breaks a count or the sum."""
    t = _build(spark, sf, "multi")
    from fluss_spark.table import MultiTable

    mt = MultiTable(t.catalog, [("db", "multi"), ("db", "multi_b")])
    u = mt.union_scan(spark, ["event_id", "user_id", "event_type", "value"])
    return u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )


@register(
    "m17_overwrite_merge",
    oracle="""
    SELECT user_id,
           CASE WHEN user_id % 5 = 0 THEN 'corrected' ELSE event_type END
             AS event_type,
           CASE WHEN user_id % 5 = 0 THEN 0.0 ELSE round(value, 2) END
             AS value,
           CAST(CASE WHEN user_id % 5 = 0 THEN 0 ELSE event_id END AS BIGINT)
             AS ver
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    """,
)
def m17_overwrite_merge(spark: SparkSession, sf: str) -> DataFrame:
    """M8 OVERWRITE merge mode (the writer-side escape hatch the
    reference exposes next to its merge engines,
    server/kv/rowmerger/): a VERSIONED table (ver = event_id, so the
    max-version rule keeps each user's last event) is then hit by a
    correction batch carrying ver = 0 — the versioned engine would
    REJECT every correction as stale, so the query only matches the
    oracle if merge_mode='overwrite' really bypasses the engine and
    forces the rows in. Users with user_id % 5 == 0 must read
    ('corrected', 0.0, ver 0); everyone else keeps the versioned
    fold."""
    t = _build(spark, sf, "overwrite")
    return t.snapshot(spark).select(
        "user_id", "event_type", F.round("value", 2).alias("value"), "ver"
    )


@register(
    "m18_wal_image_changelog",
    oracle="""
    SELECT '+U' AS _change_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    """,
)
def m18_wal_image_changelog(spark: SparkSession, sf: str) -> DataFrame:
    """M9 changelog image WAL (table.changelog.image='wal' vs the
    default 'full'; reference: the changelog surface either replays
    full before/after images or just the write-ahead stream): the WAL
    image drops every UPDATE_BEFORE row AND — for default merge with
    full-row updates — converts +I to +U (the skip-old-lookup
    optimization, 'similar to database WAL behavior'), so the
    changelog collapses to ONE change type: exactly N '+U' rows for N
    input events, zero -U/-D/+I. The group-by must therefore return a
    single row whose count and int64 cent sum equal the raw event
    table's — a leaked before-image inflates both (before-images carry
    the PRIOR value), an unconverted +I splits the group."""
    t = _build(spark, sf, "wal_image")
    return (
        t.changelog(spark)
        .groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
    )


@register("t16_compacted_read", oracle=_LAST_PER_USER)
def t16_compacted_read(spark: SparkSession, sf: str) -> DataFrame:
    """T10 compaction (maintenance.compact_log/compact_snapshot; the
    reference's tiering/compaction service rewrites segments without
    changing their logical content, fluss-lake/.../tiering/): four
    upsert commits leave four snapshot dirs and four log commit dirs,
    then BOTH tiers are compacted — the snapshot into one data dir,
    the log into one commit dir with offsets preserved verbatim. The
    fold state must be unchanged through the rewrite: the snapshot
    after compaction equals the from-scratch last-write-wins oracle
    (a row lost, duplicated, or reordered by the rewrite breaks the
    hash)."""
    t = _build(spark, sf, "compacted")
    return t.snapshot(spark).select(
        "user_id", "event_type", F.round("value", 2).alias("value")
    )


@register(
    "t17_log_ttl",
    oracle="""
    WITH m AS (SELECT CAST(max(event_id) // 3 AS BIGINT) AS third FROM events)
    SELECT e.event_id, e.user_id, e.event_type, round(e.value, 2) AS value
    FROM events e, m
    WHERE e.event_id > m.third
    """,
)
def t17_log_ttl(spark: SparkSession, sf: str) -> DataFrame:
    """W5 log TTL at commit-dir granularity (maintenance.
    expire_log_ttl; reference: LogTieringTask deletes expired segments
    on both tiers): three appends land at pinned commit timestamps one
    minute apart, then TTL expiry runs with a pinned `now` whose
    cutoff falls exactly on the second commit's timestamp — the first
    tertile's commit dir is deleted, the second (ts == cutoff) and the
    newest are kept, and earliest readable offsets advance past the
    trimmed commit. The remaining scan must be exactly the last two
    tertiles — an off-by-one in the cutoff comparison, or a scan that
    still surfaces the trimmed dir's rows, breaks the row set."""
    t = _build(spark, sf, "ttl_log")
    return t.scan(spark).select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )


@register(
    "t18_stream_subscription",
    oracle="""
    WITH m AS (SELECT CAST(max(event_id) // 3 AS BIGINT) AS third FROM events)
    SELECT CAST(0 AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events, m WHERE event_id <= 2 * m.third
    UNION ALL
    SELECT CAST(1 AS BIGINT),
           CAST(count(*) AS BIGINT),
           CAST(min(event_id) AS BIGINT),
           CAST(max(event_id) AS BIGINT),
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
    FROM events, m WHERE event_id > 2 * m.third
    """,
)
def t18_stream_subscription(spark: SparkSession, sf: str) -> DataFrame:
    """T1/T2 per-bucket offset subscription + S2 streaming scan,
    driven to completion (LogScanner.poll,
    client/table/scanner/log/LogScanner.java:69-131; earliest startup,
    FlussOffsetInitializers.scala:26-40): two appended commits are
    drained as batch 0 (everything available at subscribe time), a
    THIRD commit lands, and a second drain must deliver EXACTLY that
    commit as batch 1 — the checkpointed per-bucket offsets are the
    only fence between the batches. Each batch is appended to a sink
    table with its batch id (the exactly-once consume shape, T7); the
    per-batch counts, id bounds, and cent sums must split the event
    table exactly at the two-thirds boundary — a row delivered twice,
    dropped, or fenced into the wrong batch breaks a sum or a bound."""
    t = _build(spark, sf, "stream_drain")
    sink = FlussTable(t.catalog, "db", "stream_sink")
    return sink.scan(spark).groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )


@register(
    "t19_hybrid_stream_handoff",
    oracle="""
    WITH h AS (SELECT CAST(max(event_id) // 2 AS BIGINT) AS half FROM events),
    h1 AS (SELECT DISTINCT user_id FROM events, h WHERE event_id <= h.half),
    e2 AS (
      SELECT e.user_id,
             row_number() OVER (PARTITION BY e.user_id ORDER BY e.event_id)
               AS rn,
             e.user_id IN (SELECT user_id FROM h1) AS ex1
      FROM events e, h
      WHERE e.event_id > h.half
    )
    SELECT CAST(0 AS BIGINT) AS batch_id, '+I' AS change_type,
           CAST(count(*) AS BIGINT) AS n
    FROM h1
    UNION ALL
    SELECT CAST(1 AS BIGINT), '+I', CAST(count(*) AS BIGINT)
    FROM e2 WHERE rn = 1 AND NOT ex1 HAVING count(*) > 0
    UNION ALL
    SELECT CAST(1 AS BIGINT), '-U', CAST(count(*) AS BIGINT)
    FROM e2 WHERE NOT (rn = 1 AND NOT ex1) HAVING count(*) > 0
    UNION ALL
    SELECT CAST(1 AS BIGINT), '+U', CAST(count(*) AS BIGINT)
    FROM e2 WHERE NOT (rn = 1 AND NOT ex1) HAVING count(*) > 0
    """,
)
def t19_hybrid_stream_handoff(spark: SparkSession, sf: str) -> DataFrame:
    """T3 hybrid snapshot->log handoff in streaming form
    (HybridSnapshotLogSplit.java:37; full startup mode): subscribing
    to a pk table already holding the first-half fold emits the KV
    SNAPSHOT as batch 0 — one +I row per stored key — and pins the log
    position to the snapshot's offsets; the second-half upsert then
    arrives as batch 1 carrying the WAL slice, where a key's first
    event is +I only if the key was NOT in the snapshot and every
    other event emits a -U/+U pair. Per-(batch, change-type) counts
    are fully determined by the halves' user sets — a handoff that
    re-reads WAL rows already represented in the snapshot, or misses
    rows committed after subscribe time, changes a count."""
    t = _build(spark, sf, "stream_hybrid")
    sink = FlussTable(t.catalog, "db", "hybrid_sink")
    return sink.scan(spark).groupBy("batch_id", "change_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "t20_exactly_once_redelivery",
    oracle="""
    SELECT CAST(2 * count(*) AS BIGINT) AS n_delivered,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(1 AS BIGINT) AS n_batches,
           CAST(2 * sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents_delivered
    FROM events
    """,
)
def t20_exactly_once_redelivery(spark: SparkSession, sf: str) -> DataFrame:
    """T7 exactly-once consumption (the engine's batch-id-keyed
    idempotence; reference: checkpointed offsets advance only after
    the batch function returns, so a failed batch re-reads the same
    range — streaming/reader.py:151, FlussMicroBatchStream.scala
    analog): a consumer processes the full available range, crashes
    BEFORE committing its checkpoint, and a fresh reader on the same
    checkpoint dir redelivers. The sink keeps both deliveries, so the
    invariants are exact: total delivered rows = 2N, distinct events =
    N (the redelivery is byte-identical, no partial range), exactly
    ONE batch id across both deliveries (the replay reuses the failed
    batch's id — an advanced checkpoint or a renumbered batch breaks
    it), and delivered cent sum = exactly twice the corpus."""
    t = _build(spark, sf, "stream_redelivery")
    sink = FlussTable(t.catalog, "db", "redelivery_sink")
    return sink.scan(spark).agg(
        F.count(F.lit(1)).alias("n_delivered"),
        F.countDistinct("event_id").alias("n_events"),
        F.countDistinct("batch_id").alias("n_batches"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents_delivered"),
    )


@register(
    "m19_snapshot_time_travel",
    oracle="""
    WITH h AS (SELECT CAST(max(event_id) // 2 AS BIGINT) AS half FROM events)
    SELECT 'v1' AS snap, user_id, event_type, round(value, 2) AS value
    FROM events, h
    WHERE event_id <= h.half
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    UNION ALL
    SELECT 'v2' AS snap, user_id, event_type, round(value, 2) AS value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    """,
)
def m19_snapshot_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """M11 KV snapshot versioning (snapshot-id = manifest version; the
    reference keeps every published KV snapshot addressable until
    expiry): the shared two-commit build is read back at BOTH
    versions — the oldest snapshot version in the commit history must
    be exactly the first-half fold, frozen even though a later commit
    rewrote the buckets, and the current version the full fold. A
    version pointer that resolves to rewritten files, or a manifest
    that lost the old dir mapping, changes v1's rows."""
    t = _build(spark, sf, "default")
    versions = sorted(
        s.snapshot_version
        for s in t.catalog.commit_history("db", "default")
        if s.snapshot_version > 0
    )
    v1 = t.snapshot(spark, version=versions[0]).select(
        F.lit("v1").alias("snap"),
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
    )
    v2 = t.snapshot(spark).select(
        F.lit("v2").alias("snap"),
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
    )
    return v1.unionByName(v2)


@register(
    "m20_deferred_snapshot",
    oracle="""
    SELECT user_id, event_type, round(value, 2) AS value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    """,
)
def m20_deferred_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """Deferred snapshot materialization (table.snapshot.defer-commits=3
    — the RocksDB model: KvTablet.putAsLeader absorbs writes, the
    periodic checkpoint in server/kv/snapshot/ materializes). Four
    upsert commits land as WAL-only writes except the third, which
    triggers the cadence materialization; the fourth leaves a PENDING
    tail, so the read under test is the hybrid path end-to-end: last
    materialized files + offset-bounded WAL-tail fold ('change log wins
    over the snapshot', SortMergeReader). The build asserts the engine
    really deferred (snapshot_version < version at read time with a
    prior materialization in history); the oracle pins the fold to the
    exact last-event-per-key state — a stale snapshot read, a
    double-applied tail, or a tail that missed a bucket all move rows."""
    t = _build(spark, sf, "deferred")
    st = t.catalog.current_commit("db", "deferred")
    assert st.snapshot_version < st.version, "expected a pending WAL tail"
    assert st.snapshot_version > 0, "expected a cadence materialization"
    return t.snapshot(spark).select(
        "user_id", "event_type", F.round("value", 2).alias("value")
    )


@register(
    "l9_delta_join_indexed",
    oracle="""
    WITH l AS (
      SELECT user_id, event_id AS l_event_id, round(value, 2) AS l_value
      FROM events WHERE event_id % 2 = 0
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    ), r AS (
      SELECT user_id, event_id AS r_event_id, round(value, 2) AS r_value
      FROM events WHERE event_id % 2 = 1
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    )
    SELECT l.user_id, l_event_id, l_value, r_event_id, r_value
    FROM l JOIN r ON l.user_id = r.user_id
    """,
)
def l9_delta_join_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Index-backed delta join — the reference's Flink 2.2 design
    (Flink22DeltaJoinITCase.java): instead of a stateful stream-stream
    join, each side's delta probes the other pk TABLE through its
    bucket-key storage index and the pairs upsert into a pair-keyed pk
    sink; the operator holds only offsets (bounded state). The build
    drains two interleaved commit rounds (both probe directions, pair
    updates); the sink must converge to exactly the inner join of the
    two tables' final states — a missed probe direction, a stale
    bucket-pruned read, or a pair not refreshed on update all move
    rows (streaming/delta_join.py)."""
    t = _build(spark, sf, "delta_join_indexed")
    sink = FlussTable(t.catalog, "db", "dj_indexed_sink")
    return sink.snapshot(spark).select(
        "user_id",
        "l_event_id",
        F.round("l_value", 2).alias("l_value"),
        "r_event_id",
        F.round("r_value", 2).alias("r_value"),
    )


@register(
    "t21_stream_over_deferred_base",
    oracle="""
    WITH b AS (SELECT CAST(max(event_id) // 3 AS BIGINT) AS third FROM events),
    s0 AS (SELECT DISTINCT user_id FROM events, b WHERE event_id <= 2 * b.third),
    e2 AS (
      SELECT e.user_id,
             row_number() OVER (PARTITION BY e.user_id ORDER BY e.event_id)
               AS rn,
             e.user_id IN (SELECT user_id FROM s0) AS ex0
      FROM events e, b
      WHERE e.event_id > 2 * b.third
    )
    SELECT CAST(0 AS BIGINT) AS batch_id, '+I' AS change_type,
           CAST(count(*) AS BIGINT) AS n
    FROM s0
    UNION ALL
    SELECT CAST(1 AS BIGINT), '+I', CAST(count(*) AS BIGINT)
    FROM e2 WHERE rn = 1 AND NOT ex0 HAVING count(*) > 0
    UNION ALL
    SELECT CAST(1 AS BIGINT), '-U', CAST(count(*) AS BIGINT)
    FROM e2 WHERE NOT (rn = 1 AND NOT ex0) HAVING count(*) > 0
    UNION ALL
    SELECT CAST(1 AS BIGINT), '+U', CAST(count(*) AS BIGINT)
    FROM e2 WHERE NOT (rn = 1 AND NOT ex0) HAVING count(*) > 0
    """,
)
def t21_stream_over_deferred_base(spark: SparkSession, sf: str) -> DataFrame:
    """T3 hybrid handoff composed with deferred materialization (m20):
    subscribing to a pk table whose KV snapshot LAGS the log
    (HybridSnapshotLogSplit.java:37 — snapshot + log suffix) must emit
    batch 0 as the TAIL-FOLDED state (materialized files + uncovered
    WAL slice) and resume the subscription from the full high
    watermarks; a cadence materialization firing mid-stream moves no
    offsets and must be invisible. Per-(batch, change-type) counts are
    fully determined by the two-thirds split — a batch 0 built from the
    stale snapshot files alone, a tail row double-delivered in batch 1,
    or an offset reset at materialization time all move a count."""
    t = _build(spark, sf, "deferred_stream")
    sink = FlussTable(t.catalog, "db", "deferred_stream_sink")
    return sink.scan(spark).groupBy("batch_id", "change_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "m21_concurrent_commits",
    oracle="""
    SELECT event_type, user_id, round(value, 2) AS value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY event_type, user_id
                               ORDER BY event_id DESC) = 1
    """,
)
def m21_concurrent_commits(spark: SparkSession, sf: str) -> DataFrame:
    """Optimistic concurrent commits (table.commit.concurrency=optimistic
    — the reference's per-TableBucket leader parallelism,
    server/replica/ReplicaManager.java: appends to different
    (partition, bucket) units never serialize). The build interleaves
    two pair-disjoint second-half writers — one stages its fused commit,
    the other publishes in between, the first validates under the short
    lock and rebases its shared-bucket offsets on top
    (sources/kv.py upsert_optimistic). The read is the merged snapshot
    across both concurrent commits; the oracle pins it to the exact
    last-event-per-key fold — a lost commit, a double-applied rebase, or
    a stale seed read all move rows."""
    t = _build(spark, sf, "concurrent")
    return t.snapshot(spark).select(
        "event_type", "user_id", F.round("value", 2).alias("value")
    )


@register(
    "s13_bucket_offset_invariants",
    oracle="""
    SELECT CAST(4 AS BIGINT) AS n_buckets,
           CAST(count(*) AS BIGINT) AS total_rows,
           CAST(0 AS BIGINT) AS min_offset_sum,
           CAST(0 AS BIGINT) AS gap_rows
    FROM events
    """,
)
def s13_bucket_offset_invariants(spark: SparkSession, sf: str) -> DataFrame:
    """W1-W3 bucketing and offset assignment (reference: rows hash to
    a fixed bucket set and each bucket's log is a dense offset
    sequence, metadata/TableBucket.java + the log append protocol):
    over the shared two-commit log build, every one of the 4 buckets
    must be populated (W1 hash spread), each bucket's offsets must
    start at 0 (W2) and be gap-free and duplicate-free across the two
    commits (W3: per bucket, max-min+1 == rows == distinct offsets).
    The aggregate folds those per-bucket checks into closed-form
    totals: any gap, duplicate, restart-from-zero, or empty bucket
    moves gap_rows, min_offset_sum, or n_buckets off the constant."""
    t = _build(spark, sf, "bucketed_log")
    per_bucket = t.scan(spark).groupBy("__bucket").agg(
        F.min("__offset").alias("lo"),
        F.max("__offset").alias("hi"),
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("__offset").alias("dst"),
    )
    return per_bucket.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("cnt").alias("total_rows"),
        F.sum("lo").alias("min_offset_sum"),
        F.sum(F.col("hi") - F.col("lo") + 1 - F.col("dst")).alias("gap_rows"),
    )


@register(
    "m1_changelog_emission",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, round(value, 2) AS value,
             row_number() OVER w AS rn,
             lag(event_type) OVER w AS p_type,
             round(lag(value) OVER w, 2) AS p_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    )
    SELECT user_id, event_type, value, '+I' AS _change_type, rn AS __seq, 0 AS __sub
    FROM e WHERE rn = 1
    UNION ALL
    SELECT user_id, p_type AS event_type, p_value AS value, '-U', rn, 0 FROM e WHERE rn > 1
    UNION ALL
    SELECT user_id, event_type, value, '+U', rn, 1 FROM e WHERE rn > 1
    """,
)
def m1_changelog_emission(spark: SparkSession, sf: str) -> DataFrame:
    """The full CDC changelog produced by the upsert transaction
    (KvTablet.putAsLeader WAL emission, KvTablet.java:755-792): exact
    +I / -U / +U sequence per key, checked event-by-event against a
    LAG-window oracle."""
    from pyspark.sql.window import Window

    t = _build(spark, sf, "default")
    # per-key change index reconstructed from WAL order: the event stream
    # per key is +I, (-U,+U), (-U,+U), ... so position p maps to
    # upsert-number rn=(p+2)//2 (rn=1 for +I) and sub=1 on the +U half
    w = Window.partitionBy("user_id").orderBy("__offset")
    p = F.row_number().over(w)
    return (
        t.log.scan(spark)
        .withColumn("__p", p)
        .select(
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
            "_change_type",
            F.when(F.col("__p") == 1, F.lit(1))
            .otherwise(F.floor((F.col("__p") + 2) / 2))
            .cast("long")
            .alias("__seq"),
            F.when((F.col("__p") > 1) & (F.col("__p") % 2 == 1), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("__sub"),
        )
    )


@register(
    "m5_first_row_snapshot",
    oracle="""
    SELECT user_id, event_type, round(value, 2) AS value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1
    """,
)
def m5_first_row_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """FIRST_ROW merge engine (FirstRowRowMerger.java): first write per
    key wins, insert-only changelog."""
    t = _build(spark, sf, "first_row")
    return t.snapshot(spark).select("user_id", "event_type", F.round("value", 2).alias("value"))


@register(
    "m6_versioned_snapshot",
    oracle="""
    SELECT user_id, event_type, round(value, 2) AS value, ver
    FROM (SELECT *, event_id % 97 AS ver FROM events)
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ver DESC, event_id DESC) = 1
    """,
)
def m6_versioned_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """VERSIONED merge engine (VersionedRowMerger.java:68-110): max
    version wins, ties -> newest write, null = -inf."""
    t = _build(spark, sf, "versioned")
    return t.snapshot(spark).select(
        "user_id", "event_type", F.round("value", 2).alias("value"), "ver"
    )


@register(
    "m7_aggregation_snapshot",
    oracle="""
    SELECT user_id,
           round(sum(value), 2) AS sum_value,
           round(max(value), 2) AS max_value,
           round(min(value), 2) AS min_value,
           first(event_type ORDER BY event_id) AS first_type,
           last(event_type ORDER BY event_id) AS last_type,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def m7_aggregation_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """AGGREGATION merge engine (AggregateRowMerger.java + field
    aggregators): per-column running aggregates folded at write time."""
    t = _build(spark, sf, "aggregation")
    s = t.snapshot(spark)
    return s.select(
        "user_id",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("max_value", 2).alias("max_value"),
        F.round("min_value", 2).alias("min_value"),
        "first_type",
        "last_type",
        "n_events",
    )


@register(
    "l1_pk_lookup",
    oracle=f"SELECT user_id, event_type, round(value,2) AS value FROM ({_LAST_PER_USER}) WHERE user_id = 7",
)
def l1_pk_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Primary-key point lookup (L1, PrimaryKeyLookuper.java): bucket
    filter folds to a constant -> one partition dir + row-group stats."""
    t = _build(spark, sf, "default")
    return t.lookup(spark, {"user_id": 7}).select(
        "user_id", "event_type", F.round("value", 2).alias("value")
    )


@register("s6_hybrid_snapshot_log", oracle=_LAST_PER_USER)
def s6_hybrid_snapshot_log(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid snapshot+log read (S5/S6, KvSnapshotAndLogBatchScanner /
    SortMergeReader): start from the FIRST commit's snapshot, merge the
    changelog tail on top — 'change log wins over the snapshot'. Must
    equal the current state."""
    t = _build(spark, sf, "default")
    history = t.catalog.commit_history("db", "default")
    first_commit = next(s for s in history if s.snapshot_version >= 0)
    old = t.kv.snapshot(spark, version=first_commit.snapshot_version)
    start = {int(b): off for b, off in first_commit.log_hwm.items()}
    result = t.kv._merge_tail(old, t.log.scan(spark, start_offsets=start))
    return result.select("user_id", "event_type", F.round("value", 2).alias("value"))


@register(
    "p6_partition_pruned_scan",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events WHERE event_type = 'click'
    GROUP BY user_id
    """,
)
def p6_partition_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Partition pruning (P6, PartitionPredicateVisitor): the engine
    table is Hive-partitioned by event_type; the filter prunes to one
    partition directory before any file IO."""
    t = _build(spark, sf, "part_log")
    return (
        t.scan(spark)
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@register(
    "m2_delete_replay",
    oracle="""
    SELECT user_id, event_type, round(value, 2) AS value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
       AND event_type != 'error'
    """,
)
def m2_delete_replay(spark: SparkSession, sf: str) -> DataFrame:
    """Delete-by-pk (M2, UpsertWriter.delete, DeleteBehavior.ALLOW):
    'error' events replay as deletes; a key whose LAST event is a delete
    is absent from the snapshot, later upserts re-insert it."""
    t = _build(spark, sf, "deletes")
    return t.snapshot(spark).select("user_id", "event_type", F.round("value", 2).alias("value"))


@register(
    "m3_partial_update",
    oracle="""
    WITH half AS (SELECT max(event_id) // 2 AS h FROM events),
    full_state AS (
      SELECT user_id, event_type
      FROM events, half WHERE event_id <= h
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    ),
    latest AS (
      SELECT user_id, round(value, 2) AS value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    )
    SELECT l.user_id, f.event_type, l.value
    FROM latest l LEFT JOIN full_state f USING (user_id)
    """,
)
def m3_partial_update(spark: SparkSession, sf: str) -> DataFrame:
    """Partial update (M3, PartialUpdater.java:35-103): second-half
    events update only `value`; `event_type` survives from the full
    first-half writes (null for keys first seen via partial update)."""
    t = _build(spark, sf, "partial")
    return t.snapshot(spark).select("user_id", "event_type", F.round("value", 2).alias("value"))


@register(
    "l2_prefix_lookup",
    oracle="""
    SELECT user_id, event_type, round(value, 2) AS value
    FROM events WHERE user_id = 7
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) = 1
    """,
)
def l2_prefix_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix lookup (L2, PrefixKeyLookuper): composite pk
    (user_id, event_type) with bucket key user_id — one bucket-key value
    returns all rows sharing the pk prefix from a single bucket dir."""
    t = _build(spark, sf, "prefix")
    return t.prefix_lookup(spark, {"user_id": 7}).select(
        "user_id", "event_type", F.round("value", 2).alias("value")
    )


@register(
    "l8_prefix_lookup_partitioned",
    oracle="""
    SELECT event_type, user_id, CAST(event_id AS BIGINT) AS event_id,
           round(value, 2) AS value
    FROM events WHERE event_type = 'click' AND user_id = 7
    """,
)
def l8_prefix_lookup_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix lookup on a PARTITIONED pk table (L2's partitioned form,
    Lookup.java:80-84: lookup columns = partition fields + bucket key;
    the pk-prefix property is checked with partition fields excluded).
    The table partitions by event_type with pk (event_type, user_id,
    event_id) and bucket key user_id, so the probe
    (event_type='click', user_id=7) resolves the owning bucket
    driver-side, prunes to ONE partition directory, and must return
    exactly that user's click rows — a lookup that read other
    partitions' buckets, or missed the partition predicate, changes
    the row set."""
    t = _build(spark, sf, "prefix_part")
    return t.prefix_lookup(spark, {"event_type": "click", "user_id": 7}).select(
        "event_type", "user_id", "event_id", F.round("value", 2).alias("value")
    )


@register(
    "s8_offset_time_travel",
    oracle="""
    SELECT event_id, user_id, round(value, 2) AS value
    FROM events WHERE event_id > (SELECT max(event_id) // 2 FROM events)
    """,
)
def s8_offset_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Offset time travel (S8, OffsetSpec/ListOffsets): scan from the
    per-bucket offsets captured between two commits -> exactly the
    second commit's rows (Parquet stats prune the first commit's files)."""
    import json

    t = _build(spark, sf, "plain_log")
    with open(os.path.join(t.catalog.warehouse, "mid_offsets.json")) as fh:
        mid = {int(k): v for k, v in json.load(fh).items()}
    return t.scan(spark, start_offsets=mid).select(
        "event_id", "user_id", F.round("value", 2).alias("value")
    )


@register(
    "s9_tiered_log_scan",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value,
           min(event_id) AS min_id, max(event_id) AS max_id
    FROM events GROUP BY event_type
    """,
)
def s9_tiered_log_scan(spark: SparkSession, sf: str) -> DataFrame:
    """S9 tiered log read (server/log/remote/LogTieringTask.java +
    client RemoteLogDownloader.java): events appended across 4 commits
    with auto-tiering on — 3 sealed commits live in the remote tier,
    only the newest stays local. The scan unions both tiers, so the
    aggregate must cover the full event range with exact offsets."""
    t = _build(spark, sf, "tiered_log")
    # prove the build actually tiered (guards against the variant
    # silently degrading into a plain log table)
    from fluss_spark.sources.log import commit_dirs

    assert commit_dirs(t.log.remote_dir), "tiered_log build has no remote tier"
    return (
        t.scan(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).cast("double").alias("sum_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


_ICEBERG_EXPORTS: dict[str, str] = {}  # sf -> export dir (reused per process)


@register(
    "s10_iceberg_union_read",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value,
           min(event_id) AS min_id, max(event_id) AS max_id
    FROM events GROUP BY event_type
    """,
)
def s10_iceberg_union_read(spark: SparkSession, sf: str) -> DataFrame:
    """S10 lake union read through EXPORTED ICEBERG METADATA
    (fluss-lake/fluss-lake-iceberg/.../tiering/IcebergLakeTieringFactory.java:39,
    LakeSource.java:43-77; website iceberg.md): the partitioned log
    table's committed files are mirrored as an Iceberg v2 table
    (vN.metadata.json + Avro manifest list/manifests via the vendored
    codec), then read BACK through the Iceberg metadata path — file
    set resolved from the manifests, `event_type` projected from each
    entry's identity-partition struct (it is a path segment, absent
    from the data files). Re-running appends a no-change snapshot,
    exercising the incremental export. The aggregate must cover every
    event exactly once — double-listed or dropped files would shift
    the counts."""
    import tempfile

    from fluss_spark.admin import Admin
    from fluss_spark.iceberg import read_iceberg_table

    t = _build(spark, sf, "part_log")
    target = _ICEBERG_EXPORTS.get(sf)
    if target is None:
        target = tempfile.mkdtemp(prefix="fluss_iceberg_export_")
        _TMPDIRS.append(target)
        _ICEBERG_EXPORTS[sf] = target
    Admin(t.catalog).export_iceberg_metadata("db", "part_log", target)
    return (
        read_iceberg_table(spark, target)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).cast("double").alias("sum_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


@register(
    "dd_exact_engine",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           doc_id AS canonical_id, lang, source
    FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      ORDER BY doc_id
    ) = 1
    """,
)
def dd_exact_engine(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup maintained BY the storage engine: documents are
    upserted (two commits, incremental) into a FIRST_ROW merge table
    keyed by the normalized-text fingerprint
    (FirstRowMergeEngine, MergeEngineType.java:34-42) — the snapshot IS
    the canonical set, and later arrivals of a known fingerprint are
    dropped at write time, never stored. This is the continuous-ingest
    form of dd_exact: dedup state lives in the table, new batches pay
    O(batch) merge cost, and the changelog announces each first-seen
    document downstream."""
    t = _build(spark, sf, "dedup_state")
    return t.snapshot(spark).select(
        "fingerprint", F.col("doc_id").alias("canonical_id"), "lang", "source"
    )


@register(
    "l4_lookup_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_type AS dim_type, round(value, 2) AS dim_value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    )
    SELECT e.event_id, e.user_id, d.dim_type, d.dim_value
    FROM events e LEFT JOIN dim d USING (user_id)
    WHERE e.event_id % 10 = 0
    """,
)
def l4_lookup_join(spark: SparkSession, sf: str) -> DataFrame:
    """Lookup join (L4, FlinkLookupFunction.java:51-178): a fact stream
    enriched against a PK table's CURRENT state. The per-record RPC
    lookup of the reference dissolves into one broadcast hash join of
    the batch against the KV snapshot scan — same point-lookup
    semantics, amortized over the batch (at large dims AQE keeps it a
    shuffled join on the pk, which is the partitioned-lookup plan)."""
    t = _build(spark, sf, "default")
    facts = _events_batch(spark, sf).filter(F.col("event_id") % 10 == 0).select(
        "event_id", "user_id"
    )
    dim = t.snapshot(spark).select(
        "user_id",
        F.col("event_type").alias("dim_type"),
        F.round("value", 2).alias("dim_value"),
    )
    return facts.join(F.broadcast(dim), on="user_id", how="left").select(
        "event_id", "user_id", "dim_type", "dim_value"
    )


@register("a1_count_metadata", oracle="SELECT count(*) AS cnt FROM events")
def a1_count_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """count(*) served from commit metadata with zero file reads (A1,
    PushdownUtils.countTable / TableStats.rowCount)."""
    t = _build(spark, sf, "plain_log")
    return spark.createDataFrame([(t.count(),)], "cnt bigint")


@register(
    "a2_minmax_metadata",
    oracle="""
    SELECT min(event_id) AS min_event_id, max(event_id) AS max_event_id,
           min(value) AS min_value, max(value) AS max_value
    FROM events
    """,
)
def a2_minmax_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """A2 batch statistics as a query surface: min/max answered from
    Parquet footer row-group statistics, DRIVER-SIDE — zero file reads,
    zero Spark jobs for the aggregate itself (the reference collects
    exactly these per-batch stats at write time,
    LogRecordBatchStatisticsCollector; here the Parquet footers ARE the
    statistics store). Runs over the TIERED table so the footer walk
    proves the same commit fencing as scan(): both tiers, local-wins
    overlap, uncommitted and rebucket-shadowed dirs excluded. String
    columns refuse the metadata path (Parquet may truncate binary
    stats) and fall back to a scan — exactness over speed."""
    t = _build(spark, sf, "tiered_log")
    mm_id = t.log.minmax_from_metadata("event_id")
    mm_val = t.log.minmax_from_metadata("value")
    assert mm_id is not None and mm_val is not None  # numeric, no eras
    return spark.createDataFrame(
        [(int(mm_id[0]), int(mm_id[1]), float(mm_val[0]), float(mm_val[1]))],
        "min_event_id bigint, max_event_id bigint, min_value double, max_value double",
    )


@register(
    "l6_index_lookup",
    oracle="""
    WITH u AS (SELECT min(user_id) AS u0 FROM events)
    SELECT e.event_id, e.user_id AS user_id, e.event_type, round(e.value, 2) AS value
    FROM events e, u
    WHERE e.user_id = u.u0 AND e.event_id % 97 != 0 AND e.event_id % 101 != 0
    UNION ALL
    SELECT e.event_id, e.user_id + 1000000 AS user_id, e.event_type, round(e.value, 2) AS value
    FROM events e, u
    WHERE e.user_id = u.u0 AND e.event_id % 101 = 0 AND e.event_id % 97 != 0
    """,
)
def l6_index_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """L6 — secondary-index lookup, a capability the reference LACKS
    (its lookup surface stops at L1 full-pk and L2 bucket-key prefix,
    Lookup.java:66-105; access by any other column is a scan). The
    index is itself a pk table (pk=[user_id, event_id], bucket
    key=[user_id] — the L2 contract) maintained incrementally from the
    base changelog (T4 consumption: last event per (value, pk) pair
    wins), so a lookup by user_id is the single-bucket-dir L2 plan
    plus a stats-pruned IN-filter read of the base. The build deletes
    every 97th event and MOVES every 101st to a shifted user id before
    an incremental sync — the result proves deletions leave the index
    and moved keys are found under their new value only."""
    from fluss_spark.indexes import index_lookup

    t = _build(spark, sf, "indexed")
    import pyarrow.parquet as pq

    md = pq.read_metadata(os.path.join(sf, "events.parquet"))
    idx = md.schema.names.index("user_id")
    u0 = min(
        int(md.row_group(rg).column(idx).statistics.min)
        for rg in range(md.num_row_groups)
    )
    cat = t.catalog
    a = index_lookup(cat, "db", "indexed", "user_id", u0, spark)
    b = index_lookup(cat, "db", "indexed", "user_id", u0 + 1_000_000, spark)
    return a.unionByName(b).select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )


@register(
    "t9_log_changelog_view",
    oracle="""
    SELECT event_id, user_id, '+A' AS _change_type
    FROM events
    """,
)
def t9_log_changelog_view(spark: SparkSession, sf: str) -> DataFrame:
    """$changelog on a log table (T9): append-only stream, every record
    carries change type +A (ChangeType.APPEND_ONLY, ChangeType.java:28-58)."""
    t = _build(spark, sf, "plain_log")
    return t.changelog(spark).select("event_id", "user_id", "_change_type")


@register(
    "t4_incremental_view",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    )
    SELECT event_type, count(*) AS n_users, round(sum(value), 2) AS sum_value
    FROM latest GROUP BY event_type
    """,
)
def t4_incremental_view(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance from the CDC stream (T4 changelog
    consumption): fold +I/+U as +1 and -U/-D as -1 weights over the raw
    changelog — the aggregate equals the batch aggregate over the
    current snapshot, without ever reading the snapshot. This is the
    retraction arithmetic every downstream materialized view runs on a
    changelog feed."""
    t = _build(spark, sf, "default")
    cl = t.changelog(spark)
    w = (
        F.when(F.col("_change_type").isin("+I", "+U"), F.lit(1))
        .otherwise(F.lit(-1))
    )
    return (
        cl.withColumn("__w", w)
        .groupBy("event_type")
        .agg(
            F.sum("__w").alias("n_users"),
            F.round(F.sum(F.col("value") * F.col("__w")), 2).alias("sum_value"),
        )
        .filter(F.col("n_users") > 0)  # groups fully retracted disappear
    )


@register(
    "t11_materialized_table",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def t11_materialized_table(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized table lifecycle end-to-end (reference: CREATE
    MATERIALIZED TABLE, engine-flink/ddl.md; stored with
    materialized-table.* props, FlinkConnectorOptions.java:241-294):
    the MT is created over an engine log table holding HALF the events
    (schema inferred from the query), the source then advances, and one
    CONTINUOUS-mode tick (source-version probe -> recompute -> commit ->
    trim the stale refresh) re-materializes. The scanned contents must
    equal the aggregate over ALL events — proving the refresh actually
    replaced the stale half-data result rather than appending to it."""
    key = ("mt", sf)
    if key not in _CACHE:
        from fluss_spark.materialized import continuous_refresh
        from fluss_spark.sql_ddl import FlussSqlSession

        wh = tempfile.mkdtemp(prefix="fluss_eq_mt_")
        _TMPDIRS.append(wh)
        cat = Catalog(wh)
        fsql = FlussSqlSession(cat, spark, default_db="db")
        ev = _events_batch(spark, sf)
        schema = TableSchema(
            fields=[
                Field("event_id", "BIGINT"),
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            num_buckets=4,
        )
        t = create_table(cat, "db", "mt_src", schema)
        half = _max_event_id(sf) // 2
        t.append(ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        fsql.sql(
            """
            CREATE MATERIALIZED TABLE mt_view
            FRESHNESS = INTERVAL '1' SECOND
            AS SELECT event_type, count(*) AS n_events,
                      round(sum(value), 2) AS sum_value
               FROM db_mt_src GROUP BY event_type
            """
        )
        t.append(ev.filter(F.col("event_id") > half), ordering=["event_id"])
        n = continuous_refresh(fsql, "db", "mt_view", rounds=1)
        assert n == 1, "source advanced -> the continuous tick must refresh"
        _CACHE[key] = (cat, "mt_view")
    cat, name = _CACHE[key]
    return (
        FlussTable(cat, "db", name)
        .scan(spark)
        .select("event_type", "n_events", "sum_value")
    )


@register(
    "l5_delta_join",
    oracle="""
    WITH l AS (
      SELECT user_id, event_id, value FROM events WHERE event_id % 2 = 0
    ), r AS (
      SELECT user_id, event_id, value FROM events WHERE event_id % 2 = 1
    )
    SELECT l.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(max(l.event_id) AS BIGINT) AS max_left,
           CAST(max(r.event_id) AS BIGINT) AS max_right
    FROM l JOIN r ON l.user_id = r.user_id AND l.event_id < r.event_id
    GROUP BY l.user_id
    """,
)
def l5_delta_join(spark: SparkSession, sf: str) -> DataFrame:
    """Delta join (L5, Flink22DeltaJoinITCase): a double-sided streaming
    join served from the STORAGE's indexes instead of engine state —
    each arriving left row probes the right table by key and vice
    versa. Batch-shaped equivalence: both sides are ENGINE log tables
    bucketed on the join key (the reference's index = our bucket
    routing), joined on that key with the event-time residual
    (l.event_id < r.event_id: only pairs where the probe row is newer).
    Per-user aggregate keeps output linear in keys, not pairs.

    At 100 TB both tables route writes by the SAME key hash, so a
    co-located (storage-partitioned) join needs no re-shuffle of
    either side in an engine that exploits bucketing metadata; Spark
    without DSv2 bucketing info plans one hash exchange per side on
    the same key — the minimal-shuffle plan available to a file
    source."""
    key = ("delta_join", sf)
    if key not in _CACHE:
        wh = tempfile.mkdtemp(prefix="fluss_eq_dj_")
        _TMPDIRS.append(wh)
        cat = Catalog(wh)
        ev = _events_batch(spark, sf)
        schema_fields = [
            Field("user_id", "BIGINT"),
            Field("event_id", "BIGINT"),
            Field("value", "DOUBLE"),
        ]
        def _load_side(name: str, parity: int):
            t = create_table(
                cat,
                "db",
                name,
                TableSchema(
                    fields=list(schema_fields), bucket_keys=["user_id"], num_buckets=8
                ),
            )
            t.append(
                ev.filter(F.col("event_id") % 2 == parity).select(
                    "user_id", "event_id", "value"
                ),
                ordering=["event_id"],
            )

        # two independent tables: overlap their append commits (§2.6)
        _par(
            lambda: _load_side("dj_left", 0),
            lambda: _load_side("dj_right", 1),
        )
        _CACHE[key] = (cat, "dj_left")
    cat, _ = _CACHE[key]
    left = FlussTable(cat, "db", "dj_left").scan(spark).select(
        "user_id", F.col("event_id").alias("l_event")
    )
    right = FlussTable(cat, "db", "dj_right").scan(spark).select(
        F.col("user_id").alias("r_user"), F.col("event_id").alias("r_event")
    )
    return (
        left.join(
            right,
            (left["user_id"] == right["r_user"]) & (left["l_event"] < right["r_event"]),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.max("l_event").alias("max_left"),
            F.max("r_event").alias("max_right"),
        )
    )


@register(
    "t12_incremental_mt",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def t12_incremental_mt(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally-maintained materialized table: built over HALF the
    events, then the source advances and one CONTINUOUS tick refreshes —
    but unlike t11 the refresh folds ONLY the new slice into the current
    result (per-bucket offset HWMs, the secondary-index consumption
    contract), never re-reading the first half. Cost per refresh is
    |delta| + |MT| instead of |source| — the shape that makes a
    freshness tick affordable over a 100-TB source. Contents must equal
    the full aggregate over ALL events, proving old+delta fold
    exactness for count/sum/min/max."""
    key = ("inc_mt", sf)
    if key not in _CACHE:
        from fluss_spark.materialized import (
            continuous_refresh,
            create_incremental_materialized_table,
        )
        from fluss_spark.sql_ddl import FlussSqlSession

        wh = tempfile.mkdtemp(prefix="fluss_eq_incmt_")
        _TMPDIRS.append(wh)
        cat = Catalog(wh)
        fsql = FlussSqlSession(cat, spark, default_db="db")
        ev = _events_batch(spark, sf)
        schema = TableSchema(
            fields=[
                Field("event_id", "BIGINT"),
                Field("user_id", "BIGINT"),
                Field("event_type", "STRING"),
                Field("value", "DOUBLE"),
            ],
            num_buckets=4,
        )
        t = create_table(cat, "db", "incmt_src", schema)
        half = _max_event_id(sf) // 2
        t.append(ev.filter(F.col("event_id") <= half), ordering=["event_id"])
        create_incremental_materialized_table(
            fsql, "db", "incmt_view",
            source="db.incmt_src",
            group_by=["event_type"],
            aggs={
                "n_events": ("count", "*"),
                "sum_value": ("sum", "value"),
                "min_value": ("min", "value"),
                "max_value": ("max", "value"),
            },
            freshness=1, freshness_unit="SECOND",
        )
        t.append(ev.filter(F.col("event_id") > half), ordering=["event_id"])
        n = continuous_refresh(fsql, "db", "incmt_view", rounds=1)
        assert n == 1, "source advanced -> the continuous tick must refresh"
        _CACHE[key] = (cat, "incmt_view")
    cat, name = _CACHE[key]
    return (
        FlussTable(cat, "db", name)
        .snapshot(spark)
        .select(
            "event_type",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
            "min_value",
            "max_value",
        )
    )


@register(
    "m12_sql_update_delete",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    ),
    s1 AS (  -- UPDATE ... SET value = round(value*1.1, 2) WHERE event_type = 'click'
      SELECT user_id, event_type,
             CASE WHEN event_type = 'click' THEN round(value * 1.1, 2) ELSE value END AS value
      FROM latest
    ),
    s2 AS (  -- UPDATE ... SET event_type = 'audited' WHERE user_id = 7 (full-pk form)
      SELECT user_id,
             CASE WHEN user_id = 7 THEN 'audited' ELSE event_type END AS event_type,
             value
      FROM s1
    )
    -- DELETE WHERE event_type = 'error'; DELETE WHERE user_id = 13 (full-pk form)
    SELECT user_id, event_type, round(value, 2) AS value
    FROM s2
    WHERE event_type <> 'error' AND user_id <> 13
    """,
)
def m12_sql_update_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level DELETE FROM / UPDATE as SQL statements (writes.md:90-115,
    FlinkTableSink SupportsRowLevelDelete/Update): the reference's
    single-row full-pk shape takes the L1 driver-resolved single-bucket
    plan (no snapshot scan); set-oriented predicates run as a
    filtered-snapshot read-modify-write through the merge engine, each
    statement one commit with CDC-correct changelog."""
    t = _build(spark, sf, "sqldml")
    return t.snapshot(spark).select(
        "user_id", "event_type", F.round("value", 2).alias("value")
    )


@register(
    "m13_sql_merge_into",
    oracle="""
    WITH cut AS (SELECT max(event_id) // 2 AS c FROM events),
    old AS (
      SELECT user_id, event_type, value
      FROM events, cut WHERE event_id <= c
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    ),
    src AS (
      SELECT user_id, event_type, value
      FROM events, cut WHERE event_id > c
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    ),
    merged AS (
      -- matched 'error' rows delete; other matches update; the rest keep
      SELECT o.user_id,
             CASE WHEN s.user_id IS NOT NULL THEN s.event_type
                  ELSE o.event_type END AS event_type,
             CASE WHEN s.user_id IS NOT NULL THEN round(o.value + s.value, 2)
                  ELSE o.value END AS value
      FROM old o LEFT JOIN src s USING (user_id)
      WHERE s.user_id IS NULL OR s.event_type <> 'error'
      UNION ALL
      -- unmatched non-error source rows insert
      SELECT s.user_id, s.event_type, round(s.value, 2) AS value
      FROM src s
      WHERE s.event_type <> 'error'
        AND NOT EXISTS (SELECT 1 FROM old o WHERE o.user_id = s.user_id)
    )
    SELECT user_id, event_type, round(value, 2) AS value FROM merged
    """,
)
def m13_sql_merge_into(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO as a SQL statement — the set-oriented composition of
    the DML triad the reference spreads over INSERT INTO upserts
    (writes.md:40) and single-row UPDATE/DELETE (writes.md:90-115).
    All three WHEN clauses (matched+cond DELETE, matched UPDATE,
    not-matched+cond INSERT) compile into ONE mixed upsert/delete batch
    (__op column) and land as ONE atomic engine commit with CDC-correct
    changelog. The only corpus-sized work is one key-equality join of
    the source against the target snapshot; clause evaluation is a
    map-side CASE chain, and the commit path's own read-old semi-join
    touches only the batch's buckets."""
    t = _build(spark, sf, "sqlmerge")
    return t.snapshot(spark).select(
        "user_id", "event_type", F.round("value", 2).alias("value")
    )


def _incremental_lsh_oracle() -> str:
    from fluss_spark.operators.dedup import (
        _BAND_ROWS,
        _K_HASHES,
        _SHINGLE,
        _SQL_MINHASH,
        _SQL_SHINGLE_IDS,
        _SQL_SHINGLES,
        _SQL_TOKENS,
    )

    return f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ), s0 AS (
      SELECT doc_id, {_SQL_SHINGLES} AS sh FROM t WHERE len(toks) >= {_SHINGLE}
    ), s1 AS (
      SELECT doc_id, {_SQL_SHINGLE_IDS} AS ids FROM s0 WHERE len(sh) > 0
    ), sig AS (
      SELECT doc_id, {_SQL_MINHASH} AS mh FROM s1
    ), bands AS (
      SELECT doc_id, b,
             md5(list_aggregate(mh[b * {_BAND_ROWS} + 1 : (b + 1) * {_BAND_ROWS}],
                                'string_agg', '|')) AS band_sig
      FROM sig, range(0, {_K_HASHES // _BAND_ROWS}) r(b)
    ), cut AS (
      SELECT 9 * max(doc_id) // 10 AS c FROM documents
    ), old_b AS (
      SELECT b, band_sig, min(doc_id) AS canonical
      FROM bands, cut WHERE doc_id <= c
      GROUP BY b, band_sig
    ), hits AS (
      SELECT bands.doc_id, min(old_b.canonical) AS matched_canonical
      FROM bands
      JOIN old_b ON bands.b = old_b.b AND bands.band_sig = old_b.band_sig
      JOIN cut ON TRUE
      WHERE bands.doc_id > cut.c
      GROUP BY bands.doc_id
    )
    SELECT d.doc_id, h.matched_canonical,
           h.matched_canonical IS NOT NULL AS is_neardup
    FROM documents d
    JOIN cut ON TRUE
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id > cut.c
    """


@register("dd_incremental_lsh", oracle=_incremental_lsh_oracle())
def dd_incremental_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental NEAR-dup detection against stored state: the LSH
    band-signature index of the already-ingested corpus (first 90% of
    doc ids) lives in an engine FIRST_ROW pk table on (band, band_sig)
    — the near-dup analog of dd_exact_engine. A new batch computes its
    own banded signatures and probes the index SNAPSHOT with one
    equi-join on the pk, so per-batch cost is O(batch bands) against a
    bucket-partitioned store (never a corpus-wide re-cluster), and the
    index itself advances by upserting the batch afterwards. Matches
    report the stored bucket canonical (min doc_id via the fold
    ordering); new docs with no collision pass clean."""
    from fluss_spark.operators.dedup import banded_signature, lsh_params, sig_stage

    t = _build(spark, sf, "lsh_state")
    r_rows, n_bands = lsh_params(sf)
    cutoff = _max_doc_id(sf) * 9 // 10
    staged = sig_stage(spark, sf).filter(F.col("doc_id") > cutoff)
    banded = staged.select(
        "doc_id", F.explode(banded_signature(F.col("sig"), n_bands, r_rows)).alias("b")
    ).select(
        F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig"), "doc_id"
    )
    snap = t.snapshot(spark).withColumnRenamed("doc_id", "canonical")
    hits = (
        banded.join(snap, on=["band", "band_sig"])
        .groupBy("doc_id")
        .agg(F.min("canonical").alias("matched_canonical"))
    )
    newdocs = load(spark, sf, "documents").filter(F.col("doc_id") > cutoff).select("doc_id")
    return newdocs.join(hits, on="doc_id", how="left").select(
        "doc_id",
        "matched_canonical",
        F.col("matched_canonical").isNotNull().alias("is_neardup"),
    )


def _incremental_ivf_oracle() -> str:
    from fluss_spark.operators.similarity import (
        _KM_K,
        _TOP_K,
        _sql_km_assign,
        _sql_km_update,
    )

    return f"""
    WITH ea AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cut AS (SELECT 9 * max(vec_id) // 10 AS c FROM ea),
    e AS (SELECT ea.vec_id, ea.v FROM ea, cut WHERE vec_id <= c),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
      FROM e ORDER BY vec_id LIMIT {_KM_K}
    ),
    a1 AS ({_sql_km_assign("c0")}),
    c1 AS ({_sql_km_update("a1")}),
    a2 AS ({_sql_km_assign("c1")}),
    c2 AS ({_sql_km_update("a2")}),
    a3 AS ({_sql_km_assign("c2")}),
    newe AS (SELECT ea.vec_id, ea.v FROM ea, cut WHERE vec_id > c),
    q AS ({_sql_km_assign("c2", src="newe")}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) /
             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM q JOIN a3 c ON q.cid = c.cid
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, CAST(rnk AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {_TOP_K}
    """


@register("ann_incremental_ivf", oracle=_incremental_ivf_oracle())
def ann_incremental_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ANN search against STORED index state — the vector
    analog of dd_incremental_lsh: the IVF cell assignment of the
    already-ingested corpus (first 90% of vec_ids) lives in an engine pk
    table bucketed by cell, with the trained centroids persisted as
    index metadata in the table properties. A new batch assigns itself
    to the trained cells map-side (no retraining), probes the index
    snapshot with one cell-equality join — a bucket-pruned read, never a
    corpus re-scan — and resolves candidate vectors through the L4
    lookup-join shape before the exact per-query cosine top-k. Per-batch
    cost is O(batch x cell density); the index advances by upserting the
    batch's own assignments afterwards."""
    import json

    from fluss_spark.operators.similarity import (
        _TOP_K,
        _embeddings,
        assign_cells,
        cell_cosine_topk,
    )

    t = _build(spark, sf, "ivf_state")
    cents = [
        (int(c), [float(x) for x in v])
        for c, v in json.loads(t.schema.properties["index.ivf.centroids"])
    ]
    cut = _max_vec_id(sf) * 9 // 10
    e = _embeddings(spark, sf)
    newq = assign_cells(e.filter(F.col("vec_id") > cut), cents, keep_vec=True)
    idx = t.snapshot(spark)
    cdf = idx.join(e.select("vec_id", "v"), "vec_id").select("vec_id", "cell", "v")
    # queries and the index share the base table's vec_id namespace
    return cell_cosine_topk(
        newq.select("vec_id", "cell", "v"), cdf, _TOP_K, exclude_self=True
    )


def _vector_index_oracle() -> str:
    from fluss_spark.operators.similarity import (
        _KM_K,
        _TOP_K,
        _sql_km_assign,
        _sql_km_update,
    )

    return f"""
    WITH e0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    e AS (SELECT vec_id, v FROM e0),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
      FROM e ORDER BY vec_id LIMIT {_KM_K}
    ),
    a1 AS ({_sql_km_assign("c0")}),
    c1 AS ({_sql_km_update("a1")}),
    a2 AS ({_sql_km_assign("c1")}),
    c2 AS ({_sql_km_update("a2")}),
    fin AS (
      SELECT vec_id,
             CASE WHEN vec_id % 13 = 0 THEN list_transform(v, x -> -x)
                  ELSE v END AS v
      FROM e0
    ),
    idx AS ({_sql_km_assign("c2", src="fin")}),
    q AS (SELECT * FROM idx WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) /
             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      FROM q JOIN idx c ON q.cid = c.cid AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, CAST(rnk AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {_TOP_K}
    """


@register("l7_vector_index", oracle=_vector_index_oracle())
def l7_vector_index(spark: SparkSession, sf: str) -> DataFrame:
    """First-class vector index over an ENGINE table (vector_index.py)
    — beyond the reference's lookup surface like L6: the index is
    itself a pk table (pk=(cell, vec_id), bucket_key=[cell] — the L2
    contract), the trained coarse quantizer is persisted as index-table
    PROPERTIES, and maintenance is an incremental changelog consumer
    whose per-event cell assignment folds cross-cell moves as a delete
    at the before-image's cell plus an insert at the after-image's.
    The build negates every 13th vector AFTER index creation and syncs
    ONE changelog slice; this query then searches the synced index for
    the 5 lowest vec_ids through the cell-grouped BLAS kernel. The
    oracle recomputes the trained centroids (unrolled Lloyd), assigns
    the FINAL vector state under them — exactly what create+sync must
    converge to — and ranks the same cell-restricted cosine top-k."""
    from fluss_spark.vector_index import vector_search

    t = _build(spark, sf, "vindexed")
    q = (
        t.snapshot(spark)
        .filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.transform("emb", lambda x: x.cast("double")).alias("v"),
        )
    )
    cat = t.catalog
    # query ids ARE base pks here, so a row must not retrieve itself
    return vector_search(
        cat, "db", "vindexed", "emb", q, spark, k=10, nprobe=1, exclude_self=True
    )


@register(
    "a2_minmax_snapshot",
    oracle="""
    WITH latest AS (
      SELECT user_id, value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    )
    SELECT min(user_id) AS min_user, max(user_id) AS max_user,
           min(value) AS min_value, max(value) AS max_value
    FROM latest
    """,
)
def a2_minmax_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """A2 statistics over a PK table's LIVE state: min/max answered from
    the snapshot manifest's bucket-dir footers, driver-side, zero file
    reads and zero Spark jobs for the aggregate. The log-tier metadata
    path refuses pk tables (the WAL retains superseded versions and
    before-images whose values would poison the stats); the snapshot
    manifest is the structure that makes the metadata answer exact —
    merged dirs hold exactly the live rows. The oracle recomputes the
    same min/max from the replayed latest-event state."""
    t = _build(spark, sf, "default")
    assert t.log.minmax_from_metadata("value") is None  # WAL refuses: not live state
    mm_u = t.minmax_metadata("user_id")
    mm_v = t.minmax_metadata("value")
    assert mm_u is not None and mm_v is not None
    return spark.createDataFrame(
        [(int(mm_u[0]), int(mm_u[1]), float(mm_v[0]), float(mm_v[1]))],
        "min_user bigint, max_user bigint, min_value double, max_value double",
    )


@register(
    "t13_scd2_history",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, round(value, 2) AS value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS ver_seq
      FROM events
    )
    SELECT user_id, event_type, value, CAST(ver_seq AS BIGINT) AS ver_seq,
           CAST(lead(ver_seq) OVER (PARTITION BY user_id ORDER BY ver_seq) AS BIGINT) AS next_seq,
           lead(ver_seq) OVER (PARTITION BY user_id ORDER BY ver_seq) IS NULL AS is_current
    FROM ev
    """,
)
def t13_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 dimension derived from the engine CHANGELOG (the
    warehouse artifact T4/T9 consumption exists to feed): every
    after-image (+I/+U) in the pk table's WAL opens a key version,
    closed by the key's next after-image — one lead() window per key,
    no self-joins. The WAL's per-bucket offset order IS the version
    order (the fold assigned it from the upsert ordering), so the
    history is reconstructed purely from stored changelog columns; the
    oracle rebuilds the same intervals from the raw events. At scale
    this is ONE exchange on the key — the changelog arrives
    bucket-partitioned by pk hash."""
    from fluss_spark.types import CHANGE_TYPE_COL, INSERT, UPDATE_AFTER

    from pyspark.sql import Window

    t = _build(spark, sf, "default")
    wal = t.scan(spark).filter(F.col(CHANGE_TYPE_COL).isin(INSERT, UPDATE_AFTER))
    w = Window.partitionBy("user_id").orderBy("__offset")
    return (
        wal.withColumn("ver_seq", F.row_number().over(w).cast("bigint"))
        .withColumn("next_seq", F.lead("ver_seq").over(w))
        .select(
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
            "ver_seq",
            "next_seq",
            F.col("next_seq").isNull().alias("is_current"),
        )
    )


# ---------------------------------------------------------------------- #
# t14: sessionization as ENGINE STATE — session windows maintained in a
# pk table across commits (the continuous-ingest form of op_sessionize,
# same shape as dd_incremental_lsh / ann_incremental_ivf: state lives in
# storage, each batch pays O(batch) merge cost)
# ---------------------------------------------------------------------- #
_SESS_GAP_S = 30 * 60  # must match sessionize._GAP_MIN


def _batch_sessions(b: DataFrame) -> DataFrame:
    """Fold ONE event batch into per-user sessions: (user_id, sid,
    b_start, b_last, b_n, b_cents) with sid numbering a user's sessions
    1.. within the batch (sid=1 = the only session that can merge with
    stored state under time-ordered arrival). Cents are int64 so the
    cross-commit accumulation stays exact and order-independent."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_s = F.when(gap.isNull() | (gap > _SESS_GAP_S), F.lit(1)).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        b.withColumn("__new", new_s)
        .withColumn("sid", F.sum("__new").over(run))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("b_start"),
            F.max("ts").alias("b_last"),
            F.count(F.lit(1)).cast("bigint").alias("b_n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("b_cents"),
        )
    )


def _fold_session_batch(t: FlussTable, spark: SparkSession, batch: DataFrame) -> None:
    """Merge one event batch into the sessions store as ONE mixed
    upsert/delete commit — under ARBITRARY arrival order. Key insight:
    adding events can only ever MERGE sessions, never split them, so
    interval aggregates are a sufficient state: fold the batch to
    per-user session intervals, pull the stored sessions within the
    batch's time range +/- gap (a literal bound that pushes to the
    snapshot scan — the probe stays O(affected sessions)), and run a
    gaps-and-islands pass over the union. Each island upserts under its
    earliest start; stored sessions absorbed into an island keyed by a
    different start are DELETED in the same commit. A late batch that
    bridges two (or a chain of) stored sessions merges them all;
    untouched single-member islands are filtered out, so the commit
    touches only affected keys. Scale shape: one user_id exchange for
    the batch fold, one for the islands window — both bounded per user,
    never global."""
    # persist the per-user interval fold: the bounds probe below and the
    # commit action would otherwise each recompute the whole batch fold
    # (one user_id exchange per recompute). The persisted frame is
    # O(sessions in batch), far smaller than the batch itself, and the
    # bounds come off it rather than a second pass over raw events.
    # ONE collect yields both the time bounds and the batch's bucket
    # set (every affected key's user is in the batch — merges only
    # happen on islands holding a fresh session — so these buckets are
    # a valid superset for the commit), letting the upsert skip its
    # per-commit bucket-discovery job.
    s = _batch_sessions(batch).persist()
    try:
        rows = (
            s.groupBy(t.kv._bucket_expr().alias("b"))
            .agg(
                F.min(F.col("b_start").cast("long")).alias("lo"),
                F.max(F.col("b_last").cast("long")).alias("hi"),
            )
            .collect()
        )
        if not rows:
            return
        lo = min(r["lo"] for r in rows)
        hi = max(r["hi"] for r in rows)
        buckets = sorted(int(r["b"]) for r in rows)
        _fold_session_batch_inner(t, spark, s, lo, hi, buckets)
    finally:
        s.unpersist()


def _fold_session_batch_inner(
    t: FlussTable, spark: SparkSession, s, lo, hi, buckets=None
) -> None:
    """Gaps-and-islands merge of the folded batch sessions `s` (already
    persisted by the caller) against the stored sessions inside the
    [lo, hi] +/- gap time bound; ends in one mixed upsert/delete
    commit (`buckets` = the batch's bucket set, forwarded so the
    commit skips its discovery job)."""
    from pyspark.sql.window import Window

    from fluss_spark.operators.replay import OP_COL

    stored = (
        t.snapshot(spark)
        .filter(
            (F.col("last_ts").cast("long") >= lo - _SESS_GAP_S)
            & (F.col("session_start").cast("long") <= hi + _SESS_GAP_S)
        )
        .select(
            "user_id",
            F.col("session_start").alias("i_start"),
            F.col("last_ts").alias("i_last"),
            F.col("n_events").alias("i_n"),
            F.col("cents").alias("i_cents"),
            F.col("session_start").alias("orig_start"),
        )
    )
    fresh = s.select(
        "user_id",
        F.col("b_start").alias("i_start"),
        F.col("b_last").alias("i_last"),
        F.col("b_n").alias("i_n"),
        F.col("b_cents").alias("i_cents"),
        F.lit(None).cast("timestamp").alias("orig_start"),
    )
    u = stored.unionByName(fresh)
    w = Window.partitionBy("user_id").orderBy("i_start", "i_last")
    prev_max = F.max(F.col("i_last").cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max.isNull()
        | (F.col("i_start").cast("long") - prev_max > _SESS_GAP_S),
        F.lit(1),
    ).otherwise(F.lit(0))
    tagged = u.withColumn(
        "__isl",
        F.sum(new_island).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    wi = Window.partitionBy("user_id", "__isl")
    tagged = tagged.select(
        "*",
        F.min("i_start").over(wi).alias("__isl_start"),
        F.count(F.lit(1)).over(wi).alias("__isl_size"),
        F.sum(F.col("orig_start").isNull().cast("int")).over(wi).alias("__isl_fresh"),
    )
    # islands with batch contribution (or >1 member) change state; an
    # untouched stored session pulled by the window alone is a no-op
    active = (F.col("__isl_fresh") > 0) | (F.col("__isl_size") > 1)
    upserts = (
        tagged.filter(active)
        .groupBy("user_id", "__isl")
        .agg(
            F.min("i_start").alias("session_start"),
            F.max("i_last").alias("last_ts"),
            F.sum("i_n").alias("n_events"),
            F.sum("i_cents").alias("cents"),
        )
        .drop("__isl")
        .withColumn(OP_COL, F.lit("U"))
        .withColumn("__ord", F.lit(1))
    )
    absorbed = (
        tagged.filter(
            active
            & F.col("orig_start").isNotNull()
            & (F.col("orig_start") != F.col("__isl_start"))
        )
        .select(
            "user_id",
            F.col("orig_start").alias("session_start"),
            F.lit(None).cast("timestamp").alias("last_ts"),
            F.lit(None).cast("bigint").alias("n_events"),
            F.lit(None).cast("bigint").alias("cents"),
        )
        .withColumn(OP_COL, F.lit("D"))
        .withColumn("__ord", F.lit(0))
    )
    # persist the islands OUTPUT (O(affected sessions), tiny): the
    # upsert otherwise re-runs the whole islands pass — stored-snapshot
    # scan + user_id exchange + window — once for its batch-bucket
    # discovery job and again inside the commit write action; with the
    # cache one islands evaluation serves all of them
    changes = upserts.unionByName(absorbed).persist()
    try:
        t.upsert(changes, ordering=["__ord"], batch_buckets=buckets)
    finally:
        changes.unpersist()


@register(
    "t14_incremental_sessions",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM e
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
)
def t14_incremental_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization as ENGINE STATE: gap-bounded session windows live
    in a pk table (pk=(user_id, session_start), bucketed by user_id)
    and ADVANCE as event batches commit — under ARBITRARY arrival
    order: the build delivers the MIDDLE time-tertile LAST, so its
    events must bridge and MERGE sessions already stored from both
    ends (gaps-and-islands over interval aggregates; adding events can
    only merge sessions, never split them, so aggregates are a
    sufficient state — absorbed rows are deleted in the same commit).
    This is the continuous-ingest form of op_sessionize: per-batch
    cost is O(batch + affected sessions) against the bucketed store,
    no corpus-wide re-sessionization, and the store IS the queryable
    result at every commit (T4-consumption shape; reference delegates
    windowing to its host engine, SURVEY §2.5/T5). The oracle
    recomputes all sessions from the full event table in SQL — the
    incremental store must equal the from-scratch answer exactly
    (int64 cent sums make the accumulation order-independent)."""
    t = _build(spark, sf, "session_state")
    return t.snapshot(spark).select(
        "user_id",
        "session_start",
        "last_ts",
        "n_events",
        (F.col("cents") / 100.0).alias("sum_value"),
    )


@register(
    "t15_snapshot_diff",
    oracle="""
    WITH h AS (SELECT max(event_id) // 2 AS half FROM events),
    v1 AS (
      SELECT user_id, event_type, value FROM (
        SELECT e.user_id, e.event_type, e.value,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.event_id DESC) AS rn
        FROM events e, h WHERE e.event_id <= h.half
      ) WHERE rn = 1
    ),
    fin AS (
      SELECT user_id, event_type, value,
             (event_id > half AND event_type = 'error') AS deleted
      FROM (
        SELECT e.*, h.half,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.event_id DESC) AS rn
        FROM events e, h
      ) WHERE rn = 1
    ),
    v2 AS (SELECT user_id, event_type, value FROM fin WHERE NOT deleted)
    SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
           CASE WHEN v1.user_id IS NULL THEN 'I'
                WHEN v2.user_id IS NULL THEN 'D'
                ELSE 'U' END AS change,
           v1.event_type AS old_event_type, v1.value AS old_value,
           v2.event_type AS new_event_type, v2.value AS new_value
    FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
    WHERE v1.user_id IS NULL OR v2.user_id IS NULL
       OR v1.event_type IS DISTINCT FROM v2.event_type
       OR v1.value IS DISTINCT FROM v2.value
    """,
)
def t15_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Net row-level diff between two snapshot versions from the
    CHANGELOG SLICE between their high-water marks (the incremental
    read the reference's per-snapshot log offsets exist for —
    Admin.getKvSnapshotMetadata, Admin.java:450): the slice's last
    event per key gives the v2 side, a KEY-PRUNED probe of the v1
    snapshot gives the old side, so cost is O(delta) at any table size
    — never two full snapshot scans. The build's second commit mixes
    upserts with DELETE ops, so the diff exercises I, U and D rows;
    identical-state keys (delete + same-value re-insert inside the
    slice) are excluded. The oracle recomputes both versions from the
    raw events and full-outer-compares them."""
    t = _build(spark, sf, "diff_state")
    hist = sorted(
        s.version for s in t.catalog.commit_history("db", "diff_state")
    )
    return t.snapshot_diff(spark, v1=hist[-2], v2=hist[-1])
