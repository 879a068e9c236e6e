"""Maintenance jobs: log compaction/tiering, TTL retention, partition
lifecycle, snapshot cleanup.

Reference counterparts:
  - T10 tiering service (flink/tiering/, fluss-lake/*): background job
    moves many small log files into large sorted lake files. Here the
    log IS Parquet already, so compaction = rewrite many small commit
    files into one large file per bucket, preserving offsets.
  - W5 TTL (`table.log.ttl`, ConfigOptions.java:1814-1822): expired log
    segments are deleted and become unreadable.
  - W4 auto-partitioning (ConfigOptions.java:1726-1812,
    server/coordinator auto-partition manager): time-based partition
    pre-create and retention.

All jobs are plain DataFrame rewrites + one atomic commit; readers see
either the old or the new file set, never both.
"""

from __future__ import annotations

import os
import time
from dataclasses import replace
from datetime import datetime, timedelta, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fluss_spark import fsops
from fluss_spark.bucketing import exchange_width
from fluss_spark.sources.log import COMMIT_DIR_COL, LogStore
from fluss_spark.table import FlussTable
from fluss_spark.types import BUCKET_COL, OFFSET_COL, TIMESTAMP_COL


def tier_log(table: FlussTable, local_segments: int | None = None) -> int:
    """S9 tiered log storage: move sealed (committed) log commit dirs to
    the table's remote tier, keeping the newest `local_segments` commits
    local (`table.log.tiered.local-segments`, default 2 — ConfigOptions.java:1822-1828,
    "must be greater than 0"). Mirrors server/log/remote/LogTieringTask.java
    (copy sealed segments to remote storage, trim local) except that the
    "copy + download" pair dissolves: remote here is just another Parquet
    root that scans union (sources/log.py scan), so tiering is a metadata
    move. Offsets, timestamps and commit fencing are preserved verbatim —
    time travel, changelog replay and offsets_for_timestamp are unaffected.
    Returns the number of commit dirs tiered."""
    with table.catalog.write_lock(table.db, table.name):
        return _tier_log_locked(table, local_segments)


def _tier_log_locked(table: FlussTable, local_segments: int | None = None) -> int:
    log = table.log
    n_keep = (
        local_segments
        if local_segments is not None
        else int(table.schema.properties.get("table.log.tiered.local-segments", "2"))
    )
    if n_keep < 1:
        raise ValueError("table.log.tiered.local-segments must be greater than 0")
    committed = sorted(int(n.split("=")[1]) for n in log.committed_dirs(tiers="local")[0])
    to_move = committed[: -n_keep] if len(committed) > n_keep else []
    for v in to_move:
        # a remote copy already there is the orphan of a crashed earlier
        # attempt (copied, local not yet dropped): local is authoritative
        # until it is gone, so replace_dir drops the copy first. Across
        # devices the move stages under a hidden `.tiering-*` name; a
        # crash leaves an invisible staging dir or a benign local+remote
        # pair — scan() prefers local, and the next tier_log heals both.
        fsops.replace_dir(
            os.path.join(log.log_dir, f"{COMMIT_DIR_COL}={v}"),
            os.path.join(log.remote_dir, f"{COMMIT_DIR_COL}={v}"),
        )
    return len(to_move)


def compact_log(
    table: FlussTable,
    spark: SparkSession,
    target_commits: int = 8,
    sort_columns: list[str] | None = None,
    zorder_columns: list[str] | None = None,
) -> int:
    """Rewrite all committed log files into one compacted commit dir
    (sorted by bucket/offset -> large row groups, better stats pruning).
    Skips when the log has fewer than `target_commits` commit dirs.
    Returns the number of commit dirs compacted away.

    Offsets/timestamps are preserved verbatim, so scans, time travel and
    changelog replay are unaffected — only the file layout changes
    (the reference's tiering keeps log offsets in lake files the same
    way, fluss-lake/.../tiering/).

    `sort_columns` (or the `table.log.compaction.sort-columns` property,
    comma-separated) clusters rows WITHIN each bucket by those columns
    instead of offset — the data-layout lever for scan speed at scale:
    Parquet row-group min/max on a clustered column become narrow and
    disjoint, so predicate pushdown prunes whole row groups instead of
    scanning them (the lake-house sorted-compaction / Z-order-lite
    shape). Per-key order is never derived from file order (readers
    sort by __offset explicitly), so clustering is always safe.

    `zorder_columns` (or `table.log.compaction.zorder-columns`) clusters
    by a Z-ORDER curve over 2+ numeric/temporal columns instead: each
    column is min/max-scaled to 16 bits and the bits interleaved, so
    file min/max stay narrow on EVERY listed column simultaneously —
    lexicographic sort keeps only the leading column narrow. The
    compacted commit is range-partitioned on the curve (multiple files
    per bucket, each a Z tile), which is what lets a filter on the
    SECOND column skip files at scan time."""
    with table.catalog.write_lock(table.db, table.name):
        return _compact_log_locked(
            table, spark, target_commits, sort_columns, zorder_columns
        )


def _zvalue(df, columns: list[str]):
    """16-bit-per-column Morton (Z-order) curve value as a Column.

    Min/max come from ONE small aggregate over the data being rewritten
    (the compaction already reads it all); bits interleave so that the
    curve's prefix locality covers every column equally. Columns must be
    numeric or temporal — Z-ordering a string hash would buy nothing
    (hash order has no range locality)."""
    numeric = {f.name for f in df.schema.fields
               if f.dataType.typeName() not in ("string", "binary", "array",
                                                 "map", "struct", "boolean")}
    bad = [c for c in columns if c not in numeric]
    if bad:
        raise ValueError(f"zorder columns must be numeric/temporal: {bad}")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(columns)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(columns)],
    ).first()
    k = len(columns)
    z = F.lit(0).cast("bigint")
    for j, c in enumerate(columns):
        mn, mx = stats[f"mn_{j}"], stats[f"mx_{j}"]
        if mn is None or mx is None or mx == mn:
            continue
        scaled = F.least(
            F.lit(65535),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(c).cast("double") - F.lit(float(mn)))
                    / F.lit(float(mx) - float(mn))
                    * 65535.0
                ).cast("bigint"),
            ),
        )
        # disjoint target bits, so sum == bitwise-or
        for b in range(16):
            z = z + F.shiftleft(
                F.shiftright(scaled, b).bitwiseAND(F.lit(1)), b * k + j
            )
    return z


def _compact_log_locked(
    table: FlussTable,
    spark: SparkSession,
    target_commits: int,
    sort_columns: list[str] | None = None,
    zorder_columns: list[str] | None = None,
) -> int:
    log = table.log
    state = table.catalog.current_commit(table.db, table.name)
    committed, _remote = log.committed_dirs(tiers="local")
    if len(committed) < target_commits:
        return 0

    # LOCAL tier only: remote commit dirs are immutable once tiered (the
    # reference never rewrites uploaded segments either); compacting them
    # back into a local dir would undo tiering.
    df = log.scan(spark, tiers="local")
    version = state.version + 1
    part_cols = list(log.schema.partition_keys) + [BUCKET_COL]
    codec = table.schema.properties.get("table.log.compression", "snappy")
    if sort_columns is None:
        prop = table.schema.properties.get("table.log.compaction.sort-columns")
        sort_columns = [c.strip() for c in prop.split(",")] if prop else []
    if zorder_columns is None:
        prop = table.schema.properties.get("table.log.compaction.zorder-columns")
        zorder_columns = [c.strip() for c in prop.split(",")] if prop else []
    if sort_columns and zorder_columns:
        raise ValueError("sort_columns and zorder_columns are exclusive")
    bad = [c for c in sort_columns + zorder_columns if c not in df.columns]
    if bad:
        raise ValueError(f"unknown sort column(s): {bad}")
    if zorder_columns:
        # Z tiles need MULTIPLE files per bucket (each a narrow
        # hyper-rectangle in footer stats), so range-partition on the
        # curve inside each bucket instead of one-task-per-bucket
        zdf = df.withColumn("__z", _zvalue(df, zorder_columns))
        n_files = min(128, max(16, log.schema.num_buckets * 4))
        (
            zdf.repartitionByRange(n_files, F.col(BUCKET_COL), F.col("__z"))
            .sortWithinPartitions(BUCKET_COL, "__z")
            .drop("__z")
            .write.mode("overwrite")
            .option("compression", codec)
            .partitionBy(*part_cols)
            .parquet(log.staging_path(version))
        )
    else:
        order = sort_columns if sort_columns else [OFFSET_COL]
        (
            df.repartition(
                exchange_width(spark, log.schema.num_buckets), F.col(BUCKET_COL)
            )
            .sortWithinPartitions(BUCKET_COL, *order)
            .write.mode("overwrite")
            .option("compression", codec)
            .partitionBy(*part_cols)
            .parquet(log.staging_path(version))
        )
    new_state = replace(state, version=version, ts_ms=int(time.time() * 1000), local_floor=version)
    log.publish(version)
    table.catalog.commit(table.db, table.name, new_state)
    # local_floor now shadows every older local dir (a crash before
    # or during this cleanup leaves fenced garbage, never duplicates)
    for e in os.scandir(log.log_dir):
        if e.name.startswith(f"{COMMIT_DIR_COL}=") and int(e.name.split("=")[1]) < version:
            fsops.remove(e.path)
    return len(committed)


def expire_log_ttl(table: FlussTable, spark: SparkSession, now_ms: int | None = None) -> int:
    """W5: delete whole commit dirs older than table.log.ttl (commit
    granularity, like segment granularity in the reference). Returns
    dirs deleted. Earliest readable offsets move forward implicitly."""
    ttl = table.schema.properties.get("table.log.ttl")
    if ttl is None:
        return 0
    ttl_ms = _parse_duration_ms(ttl)
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    cutoff = now - ttl_ms
    with table.catalog.write_lock(table.db, table.name):
        return _expire_log_ttl_locked(table, cutoff)


def _expire_log_ttl_locked(table: FlussTable, cutoff: int) -> int:
    # TTL applies to BOTH tiers (LogTieringTask.java also "deletes expired
    # remote log segments"). Never the newest commit or anything at/after
    # the cutoff; and a pk table's WAL commits above snapshot_version are
    # the ONLY copy of their rows (deferred materialization has not
    # absorbed them) — expiring one would lose data, not history.
    return _trim_log_locked(
        table,
        lambda v, cs, state: v < state.version
        and cs.ts_ms < cutoff
        and (table.kv is None or v <= state.snapshot_version),
    )


def _trim_log_locked(table: FlussTable, drop) -> int:
    """Delete the commit dirs of both tiers that `drop(version, commit
    state, current state)` selects, then rebase log_start to the newest
    dropped commit's high watermarks in one commit (commits are trimmed
    oldest-first, contiguously), so earliest offsets stay exact. Dirs
    below log_floor (local_floor on the local tier) are garbage a crash
    left behind a rebucket or a log compaction: deleted, but their
    watermarks never rebase log_start. A crash between deletion and the
    rebase commit leaves only already-unreadable history. Returns the
    dirs dropped."""
    history = {s.version: s for s in table.catalog.commit_history(table.db, table.name)}
    state = table.catalog.current_commit(table.db, table.name)
    deleted = 0
    newest_deleted = None
    entries = []  # (tier floor, dir entry)
    for tier_dir, floor in (
        (table.log.remote_dir, state.log_floor),
        (table.log.log_dir, max(state.log_floor, state.local_floor)),
    ):
        if os.path.isdir(tier_dir):
            entries.extend((floor, e) for e in os.scandir(tier_dir))
    for floor, e in sorted(entries, key=lambda fe: fe[1].name):
        if not e.name.startswith(f"{COMMIT_DIR_COL}="):
            continue
        v = int(e.name.split("=")[1])
        if v < floor:
            fsops.remove(e.path)
            continue
        cs = history.get(v)
        if cs is None or not drop(v, cs, state):
            continue
        fsops.remove(e.path)
        deleted += 1
        if newest_deleted is None or v > newest_deleted.version:
            newest_deleted = cs
    if newest_deleted is not None:
        starts = dict(state.log_start)
        for b, off in newest_deleted.log_hwm.items():
            starts[b] = max(starts.get(b, 0), off)
        table.catalog.commit(
            table.db,
            table.name,
            replace(state, version=state.version + 1, ts_ms=int(time.time() * 1000), log_start=starts),
        )
    return deleted


def compact_snapshot(table: FlussTable, spark: SparkSession, max_dirs: int = 8) -> bool:
    """Rewrite the PK snapshot into ONE data dir when the manifest
    references more than `max_dirs` dirs (each upsert adds one for its
    touched buckets; lookups union one scan per dir). Runs under the
    write lock: the current rows (a pending WAL tail merged in) are
    rewritten as every unit through `KvStore._rewrite_units`, whose
    manifest maps each unit the fresh dir holds to it, and a new version
    commits. Keeps lookup fan-in O(1) regardless of commit count."""
    with table.catalog.write_lock(table.db, table.name):
        return _compact_snapshot_locked(table, spark, max_dirs)


def _compact_snapshot_locked(table: FlussTable, spark: SparkSession, max_dirs: int) -> bool:
    kv = table.kv
    if kv is None:
        return False
    state = table.catalog.current_commit(table.db, table.name)
    manifest = kv._manifest(state.snapshot_version)
    if not manifest or len(set(manifest.values())) <= max_dirs:
        return False
    version = state.version + 1
    kv._rewrite_units(spark, kv.snapshot(spark), version)
    table.catalog.commit(
        table.db,
        table.name,
        replace(state, version=version, snapshot_version=version, ts_ms=int(time.time() * 1000)),
    )
    return True


def expire_snapshots(table: FlussTable, keep: int = 2) -> int:
    """Drop old snapshot versions: keep the newest `keep` manifests,
    then GC data dirs no kept manifest references (M11 cleanup for the
    incremental bucket-manifest layout). Returns data dirs removed.
    Takes the table write lock (a reader resolves its manifest before
    scanning; deleting dirs concurrently with a commit could drop a dir
    the in-flight commit's manifest still references)."""
    with table.catalog.write_lock(table.db, table.name):
        return _expire_snapshots_locked(table, keep)


def snapshot_leases_path(table: FlussTable) -> str:
    return os.path.join(
        table.catalog.table_dir(table.db, table.name), "meta", "snapshot_leases.json"
    )


def active_snapshot_leases(table: FlussTable, now_ms: int | None = None) -> dict[str, dict]:
    """lease_id -> {"snapshot": int, "expires_ms": int} for unexpired
    leases (Admin.createKvSnapshotLease, Admin.java:460: a lease pins a
    snapshot against GC for its duration; expiry is implicit)."""
    import json

    p = snapshot_leases_path(table)
    if not os.path.exists(p):
        return {}
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    with open(p) as f:
        leases = json.load(f)
    return {k: v for k, v in leases.items() if v["expires_ms"] > now}


def _expire_snapshots_locked(table: FlussTable, keep: int) -> int:
    if table.kv is None:
        return 0
    kv = table.kv
    if not os.path.isdir(kv.manifest_dir):
        return 0
    versions = sorted(
        (int(e.name[1:-5]) for e in os.scandir(kv.manifest_dir) if e.name.endswith(".json")),
        reverse=True,
    )
    state = table.catalog.current_commit(table.db, table.name)
    keep_versions = set(versions[:keep]) | {state.snapshot_version}
    # leased snapshots are pinned for the lease duration (an external
    # reader holding a consistent view — the reference's KvSnapshotLease)
    keep_versions |= {
        lease["snapshot"]
        for lease in active_snapshot_leases(table).values()
        if lease["snapshot"] in set(versions)
    }
    referenced: set[str] = set()
    for v in keep_versions:
        referenced |= kv.referenced_data_dirs(v)
    removed = 0
    for v in versions:
        if v not in keep_versions:
            fsops.remove(os.path.join(kv.manifest_dir, f"v{v}.json"))
    if os.path.isdir(kv.snapshot_dir):
        for e in os.scandir(kv.snapshot_dir):
            if e.name.startswith("data-v") and e.name not in referenced:
                fsops.remove(e.path)
                removed += 1
    return removed


# ---------------------------------------------------------------------- #
# W4 auto-partitioning
# ---------------------------------------------------------------------- #

_UNIT_FMT = {"HOUR": "%Y%m%d%H", "DAY": "%Y%m%d", "MONTH": "%Y%m", "YEAR": "%Y"}
_UNIT_DELTA = {
    "HOUR": timedelta(hours=1),
    "DAY": timedelta(days=1),
    "MONTH": timedelta(days=31),
    "YEAR": timedelta(days=366),
}


def partitions_meta_path(table: FlussTable) -> str:
    return os.path.join(
        table.catalog.table_dir(table.db, table.name), "meta", "partitions.json"
    )


def registered_partitions(table: FlussTable) -> list[str]:
    """Partition values registered in meta/partitions.json (pre-created
    by auto_partition or Admin.create_partition)."""
    import json

    p = partitions_meta_path(table)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)["active"]


def materialized_partitions(table: FlussTable) -> set[str]:
    """Partition values materialized by writes: partition dir names under
    every commit dir, BOTH tiers (sealed commits may have tiered, S9)."""
    key = table.schema.partition_keys[0]
    on_disk: set[str] = set()
    for tier in (table.log.log_dir, table.log.remote_dir):
        if not os.path.isdir(tier):
            continue
        for d in os.scandir(tier):
            if d.name.startswith(f"{COMMIT_DIR_COL}="):
                for sub in os.scandir(d.path):
                    if sub.is_dir() and sub.name.startswith(f"{key}="):
                        on_disk.add(sub.name.split("=", 1)[1])
    return on_disk


def drop_partition_dirs(table: FlussTable, values: list[str]) -> None:
    """Physically delete the given partition values' dirs from every
    commit dir in every tier (scans union the tiers, so a remote-only
    leftover would keep serving a dropped partition)."""
    key = table.schema.partition_keys[0]
    for tier in (table.log.log_dir, table.log.remote_dir):
        if not os.path.isdir(tier):
            continue
        for d in os.scandir(tier):
            if not d.name.startswith(f"{COMMIT_DIR_COL}="):
                continue
            for p in values:
                pdir = os.path.join(d.path, f"{key}={p}")
                if os.path.isdir(pdir):
                    fsops.remove(pdir)


def delete_partition_rows(table: FlussTable, spark: SparkSession, cond) -> None:
    """Delete a PK table's rows matching `cond` (a predicate on its
    partition column) through the engine, before the caller removes the
    partitions' log dirs. Under deferred materialization the delete
    commit lands WAL-ONLY, so its -D events are the only record that
    the partitions' materialized rows died: the tail is folded into the
    snapshot here, before drop_partition_dirs erases those WAL dirs
    (-D events included), or the manifest's pairs would resurrect the
    rows."""
    table.delete_where(spark, cond)
    if table.kv._tail_start(table.catalog.current_commit(table.db, table.name)) is not None:
        table.kv.materialize(spark)


def auto_partition(
    table: FlussTable, now: datetime | None = None, spark=None
) -> dict[str, list[str]]:
    """Time-based partition lifecycle (table.auto-partition.*): creates
    the next `num-precreate` time partitions as empty dirs and drops
    partitions older than `num-retention`. Returns {'created': [...],
    'dropped': [...]}. Partition values use the reference's time-unit
    formats (yyyyMMdd etc., ConfigOptions.java:1726-1812).

    On a PRIMARY KEY table expired rows live in the KV snapshot (pair-
    granular manifests keyed (partition path, bucket)), so retention
    must route through the engine's delete path, exactly like
    Admin.drop_partition — the delete commit drops the expired pairs
    from the manifest and their old files age out via snapshot GC.
    Pass `spark`; without a session the call refuses rather than leave
    snapshot rows that the dropped log dirs can no longer explain."""
    props = table.schema.properties
    if props.get("table.auto-partition.enabled", "false") != "true":
        return {"created": [], "dropped": []}
    if not table.schema.partition_keys:
        raise ValueError("auto-partitioning requires a partitioned table")
    if table.kv is not None and spark is None:
        raise ValueError(
            "auto_partition retention on a primary-key table deletes rows "
            "through the engine (they live in the KV snapshot keyed by "
            "data columns) — pass spark="
        )
    unit = props.get("table.auto-partition.time-unit", "DAY").upper()
    n_pre = int(props.get("table.auto-partition.num-precreate", "2"))
    n_keep = int(props.get("table.auto-partition.num-retention", "7"))
    fmt = _UNIT_FMT[unit]
    now = now or datetime.now(timezone.utc)

    created, dropped = [], []
    for i in range(n_pre):
        val = (now + i * _UNIT_DELTA[unit]).strftime(fmt)
        # pre-create inside every committed dir's namespace is pointless;
        # partitions materialize on write — record intent in meta
        created.append(val)
    meta_path = partitions_meta_path(table)
    import json

    existing = registered_partitions(table)
    on_disk = materialized_partitions(table)
    active = sorted(set(existing) | set(created) | on_disk)
    cutoff = (now - n_keep * _UNIT_DELTA[unit]).strftime(fmt)
    keepers = [p for p in active if p >= cutoff]
    dropped = [p for p in active if p < cutoff]
    to_delete = [p for p in dropped if p in on_disk]
    if table.kv is not None and to_delete:
        # pk table: delete expired rows through the engine FIRST (same
        # order as Admin.drop_partition — snapshot consistency), then
        # remove the log dirs below
        delete_partition_rows(table, spark, F.col(table.schema.partition_keys[0]).isin(to_delete))
    fsops.write_atomic(meta_path, json.dumps({"active": keepers}))
    drop_partition_dirs(table, dropped)
    return {"created": [c for c in created if c not in existing], "dropped": dropped}


def _parse_duration_ms(s: str) -> int:
    s = s.strip().lower()
    units = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}
    for suffix, mult in sorted(units.items(), key=lambda kv: -len(kv[0])):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)  # bare millis


BUCKET_EPOCH_PROP = "table.bucket.epoch"


def rebucket_table(table: FlussTable, spark: SparkSession, new_buckets: int) -> int:
    """Change a table's bucket count — the parallelism lever the
    reference does NOT have (bucket.num is fixed at creation; the
    rebalance procedures move replicas between servers but never
    re-split a table, website/docs/engine-flink/procedures.md:354-560).
    Spark-first it is one declarative rewrite:

      - the whole log (both tiers, era-projected) re-routes by the new
        bucket hash; per-KEY order is preserved because new offsets are
        assigned in (old bucket, old offset) order — every key lived in
        exactly one old bucket, so its rows keep their relative order
        inside the new bucket (the W3 ordering contract);
      - offsets restart 0-based per new bucket; high watermarks come
        from the rewritten footers; log_start resets (all history is in
        the one rewritten commit);
      - PK tables also rewrite the snapshot under the new bucket ids
        through `KvStore._rewrite_units`, whose manifest lists each new
        bucket that holds rows (lookups route with the new count
        immediately);
      - `table.bucket.epoch` bumps: per-bucket OFFSETS ARE NOT
        COMPARABLE across a rebucket, so streaming subscriptions must
        restart — LogStreamReader checkpoints record the epoch and
        refuse to resume across a mismatch (the honest contract; the
        alternative is silently misread offset ranges).

    Returns the new commit version. O(table) rewrite — an explicit
    admin operation, like the reference's own cluster rebalance."""
    if new_buckets < 1:
        raise ValueError("bucket count must be >= 1")
    schema = table.schema
    if new_buckets == schema.num_buckets:
        return table.catalog.current_commit(table.db, table.name).version
    with table.catalog.write_lock(table.db, table.name):
        return _rebucket_locked(table, spark, new_buckets)


def _rebucket_locked(table: FlussTable, spark: SparkSession, new_buckets: int) -> int:
    from pyspark.sql.window import Window

    log = table.log
    schema = table.schema
    state = table.catalog.current_commit(table.db, table.name)
    version = state.version + 1

    df = log.scan(spark, tiers="all")
    if schema.bucket_keys:
        nb = F.pmod(F.hash(*schema.bucket_keys), F.lit(new_buckets)).cast("int")
    else:
        # keyless log table: no routing contract to honor — any
        # deterministic spread works
        nb = F.pmod(F.hash(F.col(BUCKET_COL), F.col(OFFSET_COL)), F.lit(new_buckets)).cast("int")
    w = Window.partitionBy("__nb").orderBy(BUCKET_COL, OFFSET_COL)
    out = (
        df.withColumn("__nb", nb)
        .withColumn("__no", (F.row_number().over(w) - 1).cast("long"))
        .drop(BUCKET_COL, OFFSET_COL)
        .withColumnRenamed("__nb", BUCKET_COL)
        .withColumnRenamed("__no", OFFSET_COL)
    )
    data_cols = [c for c in out.columns if c not in (BUCKET_COL, OFFSET_COL)]
    out = out.select(*data_cols, BUCKET_COL, OFFSET_COL)
    staged = log.staging_path(version)
    part_cols = list(schema.partition_keys) + [BUCKET_COL]
    codec = schema.properties.get("table.log.compression", "snappy")
    (
        out.write.mode("overwrite")
        .option("compression", codec)
        .partitionBy(*part_cols)
        .parquet(staged)
    )
    per_bucket = log._staged_hwm(spark, staged)
    hwm = {str(b): mx + 1 for b, mx in per_bucket.items()}

    # PK tables: rewrite the snapshot under the new bucket routing.
    # Runs BEFORE anything is published — the new data dir + manifest
    # file are invisible orphans until the commit below flips
    # snapshot_version, so a crash here loses nothing.
    snapshot_version = state.snapshot_version
    if table.kv is not None and state.snapshot_version >= 0:
        table.kv._rewrite_units(spark, table.kv.snapshot(spark), version, num_buckets=new_buckets)
        snapshot_version = version

    # crash-safe publication order (the _truncate_commits_before rule:
    # nothing committed is ever deleted before the catalog stops
    # pointing at it):
    #   1. publish the staged rewrite (still > current -> invisible)
    #   2. commit the new state; log_floor=version atomically shadows
    #      every pre-rebucket commit dir, so scans never read the old
    #      layout even while its dirs still exist
    #   3. bump bucket count + epoch (subscription fence)
    #   4. only THEN physically retire the shadowed dirs — a crash
    #      anywhere above leaves either the fully-old or the fully-new
    #      table; leftover shadowed dirs are fenced garbage that TTL
    #      expiry also sweeps
    log.publish(version)
    table.catalog.commit(
        table.db,
        table.name,
        replace(
            state,
            version=version,
            log_hwm=hwm,
            snapshot_version=snapshot_version,
            ts_ms=int(time.time() * 1000),
            log_start={},
            log_floor=version,
        ),
    )
    sch = table.catalog.get_schema(table.db, table.name)
    sch.num_buckets = new_buckets
    epoch = int(sch.properties.get(BUCKET_EPOCH_PROP, "0")) + 1
    sch.properties[BUCKET_EPOCH_PROP] = str(epoch)
    table.catalog.set_schema(table.db, table.name, sch)
    _retire_shadowed_commits(log, version)
    return version


def _retire_shadowed_commits(log: LogStore, floor: int) -> None:
    """Delete commit dirs below the published log_floor (both tiers).
    Pure garbage collection: the floor already fences them from every
    reader, so this is safe to crash out of and to re-run."""
    for tier_dir in (log.remote_dir, log.log_dir):
        if not os.path.isdir(tier_dir):
            continue
        for e in os.scandir(tier_dir):
            if e.name.startswith(f"{COMMIT_DIR_COL}=") and int(e.name.split("=")[1]) < floor:
                fsops.remove(e.path)
