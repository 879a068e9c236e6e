"""Table facade — the engine's public API.

Mirrors the reference client surface
(fluss-client/.../client/table/Table.java:39-75: newScan / newLookup /
newAppend / newUpsert) plus the connector-level row-level ops
(flink/sink/FlinkTableSink.java:68-74 SupportsRowLevelDelete/Update).
Each method returns a lazy DataFrame plan or runs one atomic commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_spark.bucketing import check_key_type
from fluss_spark.catalog import Catalog, CommitState
from fluss_spark.operators.replay import OP_COL
from fluss_spark.sources.kv import KvStore
from fluss_spark.sources.log import LogStore
from fluss_spark.types import (
    BUCKET_COL,
    OFFSET_COL,
    TIMESTAMP_COL,
    TableSchema,
    parse_type,
)


class FlussTable:
    def __init__(self, catalog: Catalog, db: str, name: str):
        self.catalog = catalog
        self.db = db
        self.name = name
        self.schema = catalog.get_schema(db, name)
        self.log = LogStore(catalog, db, name)
        self.kv = KvStore(catalog, db, name) if self.schema.is_pk_table else None

    # -- writes -----------------------------------------------------------
    def append(self, df: DataFrame, ordering: list[str] | None = None, **kw) -> CommitState:
        """Log append (S1) — requires a log table (Table.java:66-69).
        Runs under the table's single-writer lock (offset assignment is
        a read-modify-commit on the high watermarks).

        Auto-maintenance (same background roles the reference runs in
        its tablet server, ConfigOptions.java:1726-1822 style):
          - `table.log.auto-compact-commits` = N (default 0 = off): when
            the committed log reaches N commit dirs, they are rewritten
            into one compacted dir (offsets preserved) under the SAME
            lock acquisition as the append.
          - `table.log.auto-expire` = "true" (default "false"): apply
            `table.log.ttl` (W5) retention after each append — expired
            commit dirs are dropped without an external scheduler.
            (Opt-in so synthetic-timestamp replays can manage expiry
            explicitly.)"""
        if self.schema.is_pk_table:
            raise ValueError("append requires a Log Table; use upsert for PK tables")
        from fluss_spark import maintenance

        props = self.schema.properties
        with self.catalog.write_lock(self.db, self.name):
            state = self.log.append(df, ordering=ordering, **kw)
            auto_commits = int(props.get("table.log.auto-compact-commits", "0") or 0)
            ran = False
            if auto_commits > 0:
                ran |= bool(
                    maintenance._compact_log_locked(
                        self, df.sparkSession, target_commits=auto_commits
                    )
                )
            ttl = props.get("table.log.ttl")
            if ttl is not None and props.get("table.log.auto-expire", "false") == "true":
                import time as _time

                cutoff = int(_time.time() * 1000) - maintenance._parse_duration_ms(ttl)
                ran |= bool(maintenance._expire_log_ttl_locked(self, cutoff))
            # S9: tiered log storage — `table.log.tiered.enable` = "true"
            # moves sealed commits beyond `table.log.tiered.local-segments`
            # (default 2) to the remote tier after each append, the role
            # LogTieringTask.java runs on remote.log.task-interval-duration.
            if props.get("table.log.tiered.enable", "false") == "true":
                maintenance._tier_log_locked(self)
            if ran:
                state = self.catalog.current_commit(self.db, self.name)
        return state

    def upsert(self, df: DataFrame, **kw) -> CommitState:
        """Upsert/delete transaction (M1-M9) — requires a PK table
        (Table.java:71-74). Single-writer locked end to end (WAL append
        + snapshot rewrite + commit are one transaction).

        After the commit — still under the SAME write-lock acquisition,
        so no other writer can interleave — snapshot auto-compaction
        runs when the manifest references more than
        `table.snapshot.auto-compact-dirs` data dirs (default 16; '0'
        disables), the background-compaction role RocksDB plays in the
        reference's KV tablets: without it every commit adds a dir and
        lookup fan-in grows without bound.

        Snapshot retention (`table.snapshot.num-retained`) is an
        independent policy: when the property is set explicitly, expiry
        runs after EVERY commit, retaining that many manifest versions
        and GC-ing data dirs no kept manifest references — old versions
        do not accumulate on disk between compactions. When unset, the
        full M11 time-travel history is kept except right after an
        auto-compaction, which trims to 2 versions (the compacted
        manifest supersedes the incremental ones it absorbed)."""
        if self.kv is None:
            raise ValueError("upsert requires a Primary Key Table")
        if self._optimistic_commits():
            # `table.commit.concurrency` = "optimistic": the heavy work
            # (fold + fused write) runs OUTSIDE the table lock — writers
            # on disjoint (partition, bucket) units genuinely overlap,
            # the reference's per-TableBucket leader parallelism
            # (kv.upsert_optimistic: validate-then-publish under a short
            # lock, conflicting units retry). Auto-increment and
            # deferred-materialization tables fall back to serial (the
            # id counter / coverage watermark are table-global).
            state = self.kv.upsert_optimistic(df, **kw)
            with self.catalog.write_lock(self.db, self.name):
                if self._upsert_maintenance_locked(df.sparkSession):
                    state = self.catalog.current_commit(self.db, self.name)
            return state
        with self.catalog.write_lock(self.db, self.name):
            state = self.kv.upsert(df, **kw)
            if self._upsert_maintenance_locked(df.sparkSession):
                state = self.catalog.current_commit(self.db, self.name)
        return state

    def upsert_many(self, batches, **kw) -> list["CommitState"]:
        """Group commit: N pending batches through ONE fused transaction
        and write action, published as N commit versions (see
        kv.KvStore.upsert_many for the sequential-equivalence contract).
        Maintenance (auto-compaction / retention) runs once after the
        group — identical end state for the shapes the group path
        accepts; tables with an explicit retention policy or optimistic
        concurrency keep the per-commit sequential path so their
        per-commit maintenance cadence is unchanged."""
        if self.kv is None:
            raise ValueError("upsert requires a Primary Key Table")
        batches = list(batches)
        if (
            self._optimistic_commits()
            or self.schema.properties.get("table.snapshot.num-retained") is not None
        ):
            return [self.upsert(b, **kw) for b in batches]
        if not batches:
            raise ValueError("upsert_many requires at least one batch")
        with self.catalog.write_lock(self.db, self.name):
            states = self.kv.upsert_many(batches, **kw)
            if self._upsert_maintenance_locked(batches[0].sparkSession):
                states[-1] = self.catalog.current_commit(self.db, self.name)
        return states

    def _optimistic_commits(self) -> bool:
        props = self.schema.properties
        return (
            props.get("table.commit.concurrency", "serial") == "optimistic"
            and not any(f.auto_increment for f in self.schema.fields)
            and int(props.get("table.snapshot.defer-commits", "1") or "1") <= 1
            # defer-commits lowered while a WAL tail is pending: the
            # serial path folds the tail first (under the lock); the
            # optimistic path cannot, so route serial until it is gone
            and self.kv._tail_start(
                self.catalog.current_commit(self.db, self.name)
            )
            is None
        )

    def _upsert_maintenance_locked(self, spark: SparkSession) -> bool:
        """Post-commit snapshot compaction + retention (see upsert
        docstring). Caller holds the table write lock. Returns True if
        compaction advanced the table version."""
        from fluss_spark import maintenance

        props = self.schema.properties
        max_dirs = int(props.get("table.snapshot.auto-compact-dirs", "16") or 0)
        keep_prop = props.get("table.snapshot.num-retained")
        compacted = max_dirs > 0 and maintenance._compact_snapshot_locked(
            self, spark, max_dirs=max_dirs
        )
        if keep_prop is not None:
            maintenance._expire_snapshots_locked(self, int(keep_prop))
        elif compacted:
            maintenance._expire_snapshots_locked(self, 2)
        return bool(compacted)

    def delete(self, df: DataFrame, **kw) -> CommitState:
        """Delete by key rows (M2). Auto-increment columns are dropped
        if present (a delete needs only the key, and caller-supplied
        values for engine-assigned ids are rejected by upsert — rows
        read back from the snapshot carry them)."""
        if self.kv is None:
            raise ValueError("delete requires a Primary Key Table")
        auto = [f.name for f in self.schema.fields if f.auto_increment]
        if auto:
            df = df.drop(*auto)
        return self.upsert(df.withColumn(OP_COL, F.lit("D")), **kw)

    def delete_where(self, spark: SparkSession, cond, **kw) -> CommitState:
        """Row-level DELETE pushdown (PushdownUtils.deleteSingleRow
        generalized): filter the snapshot, delete those keys. The
        matched set is persisted (MEMORY_AND_DISK) so the commit's
        bucket-discovery job and write action share one snapshot scan."""
        keys = self.snapshot(spark).filter(cond).persist()
        try:
            return self.delete(keys, **kw)
        finally:
            keys.unpersist()

    def update_where(self, spark: SparkSession, cond, assignments: dict[str, object], **kw) -> CommitState:
        """Row-level UPDATE (SupportsRowLevelUpdate): read-modify-write
        as one upsert batch. All assignments evaluate against the OLD
        row in a single projection (SQL semantics: SET a = b, b = a
        swaps — sequential withColumn would feed the new a into b).
        The matched set is persisted so the commit's discovery job and
        write action share one snapshot scan."""
        exprs = {
            c: e if hasattr(e, "_jc") or hasattr(e, "_expr") else F.lit(e)
            for c, e in assignments.items()
        }
        batch = self.snapshot(spark).filter(cond)
        unknown = set(exprs) - set(batch.columns)
        if unknown:
            raise ValueError(f"unknown column(s) in UPDATE assignments: {sorted(unknown)}")
        auto = [f.name for f in self.schema.fields if f.auto_increment]
        assigned_auto = sorted(set(exprs) & set(auto))
        if assigned_auto:
            # PerSchemaAutoIncrementUpdater.validateTargetColumns:101-127
            raise ValueError(
                f"cannot UPDATE auto-increment column(s) {assigned_auto}"
            )
        batch = batch.select(
            *[exprs.get(c, F.col(c)).alias(c) for c in batch.columns if c not in auto]
        ).persist()
        try:
            return self.upsert(batch, **kw)
        finally:
            batch.unpersist()

    # -- reads ------------------------------------------------------------
    def scan(
        self,
        spark: SparkSession,
        start_offsets: dict[int, int] | None = None,
        end_offsets: dict[int, int] | None = None,
    ) -> DataFrame:
        """Log scan (S2/S3) with __bucket/__offset/__timestamp; on PK
        tables this is the changelog stream. Projection/filter/limit are
        plain DataFrame ops — Catalyst pushes them into the Parquet scan."""
        return self.log.scan(spark, start_offsets=start_offsets, end_offsets=end_offsets)

    def snapshot(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Latest (or time-travel) materialized state. For log tables the
        log itself is the state."""
        if self.kv is not None:
            return self.kv.snapshot(spark, version=version)
        return self.log.scan(spark).drop(BUCKET_COL, OFFSET_COL, TIMESTAMP_COL)

    def changelog(
        self,
        spark: SparkSession,
        start_offsets: dict[int, int] | None = None,
        end_offsets: dict[int, int] | None = None,
    ) -> DataFrame:
        """$changelog virtual table (T9) of the log slice scan() reads."""
        if self.kv is None:
            # log tables: append-only stream, change type is always +A
            from fluss_spark.types import APPEND_ONLY, COMMIT_TS_COL, LOG_OFFSET_COL

            df = self.log.scan(spark, start_offsets=start_offsets, end_offsets=end_offsets)
            return df.select(
                *self.schema.data_columns(),
                F.lit(APPEND_ONLY).alias("_change_type"),
                F.col(OFFSET_COL).alias(LOG_OFFSET_COL),
                F.col(TIMESTAMP_COL).alias(COMMIT_TS_COL),
                F.col(BUCKET_COL),
            )
        return self.kv.changelog(spark, start_offsets=start_offsets, end_offsets=end_offsets)

    def binlog(self, spark: SparkSession) -> DataFrame:
        """$binlog virtual table (T9, PK tables only)."""
        if self.kv is None:
            raise ValueError("$binlog requires a Primary Key Table")
        return self.kv.binlog(spark)

    def snapshot_diff(
        self, spark: SparkSession, v1: int, v2: int | None = None
    ) -> DataFrame:
        """Net row-level diff between two snapshot versions of a pk
        table, computed from the CHANGELOG SLICE between their
        high-water marks — never two full snapshot scans (the reference
        exposes exactly the offsets that make this possible:
        Admin.getKvSnapshotMetadata's per-bucket log positions,
        Admin.java:450). Reads the slice plus a KEY-PRUNED probe of the
        v1 snapshot (only touched keys), so cost is O(delta) at any
        table size. Rows whose v1 and v2 states are identical (e.g. a
        key deleted and re-inserted with the same values inside the
        slice) are excluded — the result IS the set difference.
        Output: pk columns, `change` ('I'/'U'/'D'), and old_/new_
        prefixed value columns."""
        from fluss_spark.types import CHANGE_TYPE_COL, DELETE, LOG_OFFSET_COL

        if self.kv is None:
            raise ValueError("snapshot_diff requires a Primary Key Table")
        hist = {s.version: s for s in self.catalog.commit_history(self.db, self.name)}
        for v in (v1, v2):
            if v is not None and v not in hist:
                raise ValueError(f"no such commit version: {v}")
        pk = self.schema.primary_key
        vals = [c for c in self.schema.data_columns() if c not in pk]
        # the changelog slice from v1's HWMs to v2's (the current ones
        # when v2 is None), both in v1's bucket epoch and retained
        sl = self.log.slice_from(
            *self.log.cursor(hist[v1]),
            f"snapshot_diff({v1}, {v2}) cannot be computed from the changelog",
            until=None if v2 is None else hist[v2].log_hwm,
        )
        cl = self.kv.changelog(spark, start_offsets=sl.start, end_offsets=sl.end)
        from pyspark.sql.window import Window

        w = Window.partitionBy(*pk).orderBy(F.col(LOG_OFFSET_COL).desc())
        last = (
            cl.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                *pk,
                F.col(CHANGE_TYPE_COL).alias("__ct"),
                *[F.col(c).alias(f"new_{c}") for c in vals],
            )
        )
        old = (
            self.snapshot(spark, version=v1)
            .join(last.select(*pk), on=pk, how="left_semi")
            .select(*pk, *[F.col(c).alias(f"old_{c}") for c in vals])
        )
        # presence markers: value columns are nullable, so side presence
        # is tracked with explicit sentinels, never value-null checks
        old = old.withColumn("__old_present", F.lit(True))
        j = last.join(old, on=pk, how="full_outer")
        has_new = F.col("__ct").isNotNull() & (F.col("__ct") != DELETE)
        has_old = F.col("__old_present").isNotNull()
        same = F.lit(True)
        for c in vals:
            same = same & F.col(f"new_{c}").eqNullSafe(F.col(f"old_{c}"))
        change = (
            F.when(has_new & ~has_old, F.lit("I"))
            .when(~has_new & has_old, F.lit("D"))
            .when(has_new & has_old & ~same, F.lit("U"))
        )
        return (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(
                *pk,
                "change",
                *[f"old_{c}" for c in vals],
                # a -D changelog row carries the deleted row's image;
                # the v2 side of a delete is NO row — null its columns
                *[
                    F.when(F.col("change") != "D", F.col(f"new_{c}"))
                    .alias(f"new_{c}")
                    for c in vals
                ],
            )
        )

    def minmax_metadata(self, column: str):
        """A2 min/max from Parquet footer statistics, driver-side (None
        means footer stats cannot answer exactly — fall back to a scan):
        pk tables answer over the live snapshot manifest dirs, log
        tables over both log tiers."""
        if self.kv is not None:
            return self.kv.minmax_from_metadata(column)
        return self.log.minmax_from_metadata(column)

    def lookup(self, spark: SparkSession, key: dict[str, object]) -> DataFrame:
        """Primary-key point lookup (L1)."""
        if self.kv is None:
            raise ValueError("lookup requires a Primary Key Table")
        return self.kv.lookup(spark, key)

    def prefix_lookup(self, spark: SparkSession, key: dict[str, object]) -> DataFrame:
        """Bucket-key prefix lookup (L2)."""
        if self.kv is None:
            raise ValueError("prefix lookup requires a Primary Key Table")
        return self.kv.prefix_lookup(spark, key)

    def limit_scan(self, spark: SparkSession, n: int) -> DataFrame:
        """Limit scan (S7): first n rows in log order."""
        return self.scan(spark).orderBy(BUCKET_COL, OFFSET_COL).limit(n)

    def count(self) -> int:
        """count(*) from commit metadata, no file reads (A1)."""
        if self.kv is not None:
            raise ValueError("metadata count is only exact for log tables")
        return self.log.count_from_metadata()

    # -- offsets (S8) ------------------------------------------------------
    def latest_offsets(self) -> dict[int, int]:
        return self.log.latest_offsets()

    def earliest_offsets(self) -> dict[int, int]:
        return self.log.earliest_offsets()

    def offsets_for_timestamp(self, spark: SparkSession, ts_ms: int) -> dict[int, int]:
        return self.log.offsets_for_timestamp(spark, ts_ms)


def create_table(
    catalog: Catalog, db: str, name: str, schema: TableSchema, if_not_exists: bool = False
) -> FlussTable:
    if if_not_exists and catalog.table_exists(db, name):
        return FlussTable(catalog, db, name)
    # reject invalid tiering config at DEFINITION time: auto-tiering runs
    # post-publish on the append path, where a raise would fail a commit
    # that already succeeded
    seg = schema.properties.get("table.log.tiered.local-segments")
    if seg is not None:
        try:
            ok = int(seg) >= 1
        except ValueError:
            ok = False
        if not ok:
            raise ValueError(
                f"table.log.tiered.local-segments must be an integer >= 1, got {seg!r}"
            )
    # every bucket key must be hashable client-side (lookup routing)
    types = {f.name: f.type for f in schema.fields}
    for c in schema.bucket_keys:
        check_key_type(c, parse_type(types[c]))
    catalog.create_table(db, name, schema)
    return FlussTable(catalog, db, name)


def register_sql_views(
    catalog: Catalog, spark: SparkSession, db: str, tables: list[str] | None = None
) -> list[str]:
    """Expose engine tables to Spark SQL: for every table, temp views
    `<db>_<table>`, `<db>_<table>__snapshot`, and on PK tables
    `<db>_<table>__changelog` / `<db>_<table>__binlog` — the
    reference's `$suffix` virtual tables (FlinkCatalog.java:133-135)
    with `$` mapped to `__` (Spark view names reject `$`).
    Returns the view names created. Views are lazy plans; Catalyst
    pushdown applies per query."""
    names = []
    for name in tables if tables is not None else catalog.list_tables(db):
        t = FlussTable(catalog, db, name)
        base = f"{db}_{name}"
        t.scan(spark).createOrReplaceTempView(base)
        t.snapshot(spark).createOrReplaceTempView(f"{base}__snapshot")
        names += [base, f"{base}__snapshot"]
        if t.kv is not None:
            t.changelog(spark).createOrReplaceTempView(f"{base}__changelog")
            t.binlog(spark).createOrReplaceTempView(f"{base}__binlog")
            names += [f"{base}__changelog", f"{base}__binlog"]
    return names


class MultiTable:
    """S12 multi-table client (client/table/MultiTable.java,
    MultiTableBatchScanner, MultiTableWriter): one handle over several
    tables — trivially several DataFrames in this engine."""

    def __init__(self, catalog: Catalog, tables: list[tuple[str, str]]):
        self.tables = {f"{db}.{name}": FlussTable(catalog, db, name) for db, name in tables}

    def scan_all(self, spark: SparkSession) -> dict[str, DataFrame]:
        return {path: t.scan(spark) for path, t in self.tables.items()}

    def append_all(self, batches: dict[str, DataFrame], **kw) -> None:
        """Appends to DISTINCT tables are independent commits — overlap
        them from a small driver thread pool (guide §2.6): one table's
        write job back-fills executors idled by another's driver-side
        commit phase. Per-table commit order is irrelevant here because
        each table receives exactly one batch per call."""
        from concurrent.futures import ThreadPoolExecutor

        if len(batches) <= 1:
            for path, df in batches.items():
                self.tables[path].append(df, **kw)
            return
        with ThreadPoolExecutor(max_workers=min(4, len(batches))) as pool:
            futs = [
                pool.submit(self.tables[path].append, df, **kw)
                for path, df in batches.items()
            ]
            for f in futs:
                f.result()

    def union_scan(self, spark: SparkSession, columns: list[str]) -> DataFrame:
        """Scan several homogeneous tables as one DataFrame."""
        from functools import reduce

        dfs = [t.scan(spark).select(*columns) for t in self.tables.values()]
        return reduce(lambda a, b: a.unionByName(b), dfs)
