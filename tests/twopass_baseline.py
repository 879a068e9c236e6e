"""The two-pass WAL-first PK commit: the independent baseline that
tests/test_commit_equivalence.py compares the engine's fused
single-action commit against. It derives the same commit artifacts a
different way — a WAL append through `LogStore`'s append plan, then a snapshot
rewrite that re-reads the staged WAL files and re-derives survivors by
anti-join — so the two implementations can only agree if both follow
the reference contract.
"""

from __future__ import annotations

import os
import time
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fluss_spark.bucketing import exchange_width
from fluss_spark.catalog import CommitState
from fluss_spark.operators.replay import SEQ_COL, SUB_COL, _snapshot_from_changelog
from fluss_spark.sources.kv import KvStore
from fluss_spark.sources.log import _bucket_map_expr
from fluss_spark.types import BUCKET_COL, CHANGE_TYPE_COL, INSERT, ddl_of


def stamp_autoinc_baseline(
    kv: KvStore, spark: SparkSession, changelog: DataFrame
) -> tuple[DataFrame, dict[str, int]]:
    """Insert-stable auto-increment stamping for the two-pass
    equivalence BASELINE, built a DIFFERENT way than the fused path
    (filter +I -> row_number -> join-back, plus a stored-id join
    against the snapshot, vs. the fused path's running-count window
    anchored on prior-feed rows) so
    tests/test_commit_equivalence.py compares two independent
    implementations of the same reference contract: ids minted only
    at insert (KvTablet.applyInsert, KvTablet.java:763-775), carried
    verbatim through -U/+U/-D images, re-minted only after an
    in-batch delete + re-insert. Returns (stamped changelog,
    advanced counter map). `changelog` must already be persisted by
    the caller (the count job and the WAL write must agree)."""
    schema, pk = kv.schema, kv.schema.primary_key
    auto_cols = [f.name for f in schema.fields if f.auto_increment]
    auto_next = dict(kv.catalog.current_commit(kv.db, kv.table).auto_increment)
    orig_cols = list(changelog.columns)
    ev = changelog.withColumn(BUCKET_COL, kv._bucket_expr())

    # ONE tiny collect gives both the batch's bucket set (bounds the
    # stored-id read below to O(batch buckets), never O(table)) and
    # the per-bucket +I counts that size the id segments
    per_bucket = {
        int(r[BUCKET_COL]): (int(r["cnt"]), int(r["ins"]))
        for r in ev.groupBy(BUCKET_COL)
        .agg(
            F.count("*").alias("cnt"),
            F.count(F.when(F.col(CHANGE_TYPE_COL) == INSERT, 1)).alias("ins"),
        )
        .collect()
    }
    batch_buckets = sorted(per_bucket)
    counts = {b: ins for b, (_cnt, ins) in per_bucket.items() if ins}

    # mint ids for +I events: per-bucket segments packed in bucket
    # order, numbered within the bucket in WAL arrival order
    ins = ev.filter(F.col(CHANGE_TYPE_COL) == INSERT)
    order = [F.col(SEQ_COL), F.col(SUB_COL)] + [F.col(c) for c in pk]
    wb = Window.partitionBy(BUCKET_COL).orderBy(*order)
    minted = ins.select(
        *pk, SEQ_COL, SUB_COL, BUCKET_COL, F.row_number().over(wb).alias("__ins_n")
    )
    for c in auto_cols:
        base_id = auto_next.get(c, 0)
        seg, acc = {}, base_id
        for bkt in sorted(counts):
            seg[bkt] = acc
            acc += counts[bkt]
        auto_next[c] = acc
        minted = minted.withColumn(
            f"__mint_{c}",
            (_bucket_map_expr(seg, base_id) + F.col("__ins_n") - 1).cast("long"),
        )
    minted = minted.drop("__ins_n", BUCKET_COL)

    # stored ids of pre-existing keys (the update/delete images of a
    # key's pre-batch incarnation carry these) — bucket-bounded read,
    # key-bounded rows (a semi join dedups by definition)
    stored = (
        kv.snapshot(spark, buckets=batch_buckets)
        .join(changelog.select(*pk), on=pk, how="left_semi")
        .select(*pk, *[F.col(c).alias(f"__stored_{c}") for c in auto_cols])
    )
    ev = ev.join(minted, on=list(pk) + [SEQ_COL, SUB_COL], how="left").join(
        stored, on=pk, how="left"
    )
    # incarnation carry: rows at/after the key's latest in-batch +I
    # take that mint; rows before any in-batch +I take the stored id
    wk = (
        Window.partitionBy(*pk)
        .orderBy(F.col(SEQ_COL), F.col(SUB_COL))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in auto_cols:
        ev = ev.withColumn(
            c,
            F.coalesce(
                F.last(f"__mint_{c}", ignorenulls=True).over(wk),
                F.col(f"__stored_{c}"),
            ).cast("long"),
        )
    return ev.select(*orig_cols), auto_next


def _stage_wal(
    kv: KvStore,
    spark: SparkSession,
    changelog: DataFrame,
    wal_order: list[str],
    commit_ts_ms: int | None,
    auto_override: dict[str, int] | None,
) -> CommitState:
    """The baseline's WAL pass: LogStore's append plan written to the
    next version's staging dir, left unpublished so the snapshot pass
    can join the same version. Returns that version's state (HWMs from
    the staged footers); nothing is committed yet."""
    state = kv.catalog.current_commit(kv.db, kv.table)
    version = state.version + 1
    ts_ms = commit_ts_ms if commit_ts_ms is not None else int(time.time() * 1000)
    out, auto_next = kv.log._append_plan(
        changelog, state, ts_ms, wal_order, [CHANGE_TYPE_COL, SEQ_COL, SUB_COL], auto_override
    )
    staged = kv.log.staging_path(version)
    (
        out.write.mode("overwrite")
        .option("compression", kv.schema.properties.get("table.log.compression", "snappy"))
        .partitionBy(*kv.schema.partition_keys, BUCKET_COL)
        .parquet(staged)
    )
    hwm = dict(state.log_hwm)
    for bkt, mx in kv.log._staged_hwm(spark, staged).items():
        hwm[str(bkt)] = mx + 1
    return replace(state, version=version, log_hwm=hwm, auto_increment=auto_next, ts_ms=ts_ms)


def commit_twopass(
    kv: KvStore, spark: SparkSession, changelog: DataFrame, commit_ts_ms: int | None
) -> CommitState:
    """WAL append + touched-bucket snapshot rewrite + atomic commit.
    The equivalence BASELINE the test suite compares the
    single-action path against (tests/test_commit_equivalence.py);
    no production route dispatches here.

    WAL-FIRST: the fold plan is computed exactly ONCE — inside the
    WAL write job — and the STAGED WAL FILES are the lineage cut.
    The snapshot derivation re-reads those files (metadata-listed,
    bucket-pruned), so it can never diverge from what was appended
    even if the input DataFrame is non-deterministic: the file is
    the record. This replaces the old eager localCheckpoint barrier
    (one extra full materialization + its scheduling round-trips per
    commit — ~25% of the steady-state commit constant) with the
    durable artifact the commit must produce anyway."""
    schema = kv.schema
    pk = schema.primary_key

    # WAL append: per-bucket offsets ordered by the fold sequence.
    # All events of one key land in one bucket (bucket key ⊆ pk), so
    # per-key changelog order is preserved in offset order.
    old_hwm = {int(b): off for b, off in kv.catalog.current_commit(kv.db, kv.table).log_hwm.items()}
    wal_order = [SEQ_COL, SUB_COL] + pk
    auto_override = None
    stamp_persist = None
    if any(f.auto_increment for f in schema.fields):
        # persist = barrier: the insert-count job and the WAL write
        # must see the same evaluated fold rows
        stamp_persist = changelog.persist()
        changelog, auto_override = stamp_autoinc_baseline(
            kv, spark, stamp_persist
        )
    try:
        state = _stage_wal(kv, spark, changelog, wal_order, commit_ts_ms, auto_override)
    finally:
        if stamp_persist is not None:
            stamp_persist.unpersist()
    version = state.version
    # the staged files ARE this commit's changelog (see docstring)
    staging = kv.log.staging_path(version)
    changelog = (
        spark.read.schema(ddl_of(kv.log.file_schema()))
        .option("basePath", staging)
        .parquet(staging)
    )

    # touched buckets = high-watermark diff — no extra Spark job
    touched_buckets = [
        int(b) for b, off in state.log_hwm.items() if off != old_hwm.get(int(b))
    ]

    old_manifest = kv._manifest(
        kv.catalog.current_commit(kv.db, kv.table).snapshot_version
    ) or {}
    new_manifest = dict(old_manifest)

    if touched_buckets:
        # last change event per key in (seq, sub) order — per key
        # identical to WAL-offset order (wal_order above sorts by it)
        touched_final = _snapshot_from_changelog(changelog, schema)
        touched_keys = changelog.select(*pk)  # anti join dedups
        # only the touched buckets are rewritten; a key whose last
        # event is -D must not survive via the old rows (anti-join on
        # ALL keys with change events)
        old_rows = kv.snapshot(spark, buckets=touched_buckets)
        untouched_keys = old_rows.join(touched_keys, on=pk, how="left_anti")
        bucket_rows = untouched_keys.unionByName(touched_final)

        data_dir = f"data-v{version}"
        (
            bucket_rows.withColumn(BUCKET_COL, kv._bucket_expr())
            .repartition(
                exchange_width(spark, schema.num_buckets, touched_buckets),
                F.col(BUCKET_COL),
            )
            .write.mode("overwrite")
            .partitionBy(*schema.partition_keys, BUCKET_COL)
            .parquet(os.path.join(kv.snapshot_dir, data_dir))
        )
        if schema.partition_keys:
            # the baseline rewrites touched buckets WHOLE (across
            # partitions): every pair of a touched bucket remaps to
            # the new dir; pairs with no surviving rows drop out
            snap_pairs = set(
                kv._walk_pairs(os.path.join(kv.snapshot_dir, data_dir))
            )
            for pair in [
                p for p in new_manifest if p[1] in set(touched_buckets)
            ]:
                if pair not in snap_pairs:
                    new_manifest.pop(pair, None)
            for pair in snap_pairs:
                new_manifest[pair] = data_dir
        else:
            for bkt in touched_buckets:
                new_manifest[bkt] = data_dir

    if schema.partition_keys:
        dir_pairs = dict(
            kv._manifest_dir_pairs(
                kv.catalog.current_commit(kv.db, kv.table).snapshot_version
            )
        )
        if touched_buckets:
            dir_pairs[data_dir] = sorted(snap_pairs)
        kv._write_manifest(version, new_manifest, dir_pairs)
    else:
        kv._write_manifest(version, new_manifest)
    state.snapshot_version = version
    kv.log.publish(version)
    kv.catalog.commit(kv.db, kv.table, state)
    return state
