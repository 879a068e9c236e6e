"""Bucketed append-only log store — the engine's WAL and stream.

Reference semantics reproduced (not the implementation):
  - per-bucket monotonic, contiguous `__offset` (server/log/LogTablet.java
    assigns offsets on the single bucket leader; here the "leader" is a
    hash-shuffle on the bucket id + a row_number window, which routes all
    rows of one bucket to one task — the same serialization point, done
    declaratively so it scales to any bucket count)
  - bucket routing = hash(bucket keys) % n
    (common/bucketing/FlussBucketingFunction.java:27-45; we use Spark's
    Murmur3 `hash()` — stability within this engine is what matters)
  - sticky assignment for keyless appends
    (client/write/StickyBucketAssigner.java:35): spark_partition_id % n
    keeps each writer task on one bucket per batch
  - `__timestamp` = commit time (TableDescriptor.java:60)
  - commit protocol: data files are STAGED under <table>/.tmp/log-v<V>
    (hidden from every Spark reader, including the native file-source
    stream), atomically renamed into log/__commit=<V>/ at commit time
    (a PK commit renames its fused write's WAL dir there directly),
    then meta/CURRENT advances; batch readers list only the dirs with
    log_floor <= V <= CURRENT, so even the rename -> CURRENT instant is
    fenced.
    Orphans from a crashed writer (staging dirs, or a renamed dir whose
    CURRENT advance never happened) are swept by the next writer when
    it takes the table write lock (Catalog.write_lock; SURVEY §7
    "what's hard").

Layout: <table>/log/__commit=<V>/[<part>=<v>/]__bucket=<b>/*.parquet
Commit dir V holds only offsets below the HWMs recorded at commit V, so
an offset-bounded scan lists just the dirs past its start offsets.
Parquet row-group min/max stats on `__offset`/`__timestamp` give free
offset-range and timestamp time-travel pruning inside them.
"""

from __future__ import annotations

import bisect
import os
import time
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fluss_spark import fsops
from fluss_spark.bucketing import exchange_width
from fluss_spark.catalog import Catalog, CommitState
from fluss_spark.types import (
    BUCKET_COL,
    CHANGE_TYPE_COL,
    OFFSET_COL,
    TIMESTAMP_COL,
    TableSchema,
    ddl_of,
)

COMMIT_DIR_COL = "__commit"


# system-column types admissible via `extra_cols`
_EXTRA_TYPES = {
    CHANGE_TYPE_COL: "string",
    "__seq": "long",
    "__sub": "int",
}


def _bucket_map_expr(per_bucket: dict[int, int], default: int):
    """bucket -> value lookup as ONE map literal (element_at on a map
    returns NULL for absent keys): constant expression/codegen depth at
    any bucket count, where a chained F.when would grow O(buckets)."""
    if not per_bucket:
        return F.lit(default).cast("long")
    pairs = ", ".join(
        f"{int(b)}, CAST({int(v)} AS BIGINT)" for b, v in per_bucket.items()
    )
    return F.expr(
        f"coalesce(element_at(map({pairs}), `{BUCKET_COL}`), "
        f"CAST({int(default)} AS BIGINT))"
    )


class LogStore:
    def __init__(self, catalog: Catalog, db: str, table: str):
        self.catalog = catalog
        self.db = db
        self.table = table
        self.schema = catalog.get_schema(db, table)
        self.log_dir = os.path.join(catalog.table_dir(db, table), "log")
        # S9 remote tier: sealed commit dirs moved here by tier_log()
        # (server/log/remote/LogTieringTask.java copies sealed segments to
        # remote storage and trims local; readers below the local log
        # start fall back to remote — client RemoteLogDownloader.java).
        # Here "remote" is a second Parquet root; scans union both tiers.
        self.remote_dir = os.path.join(catalog.table_dir(db, table), "remote")
        self.tmp_dir = os.path.join(catalog.table_dir(db, table), ".tmp")
        # version -> per-bucket HWM at that commit (hwm_at)
        self._hwm_cache: dict[int, dict[int, int]] = {}

    # ------------------------------------------------------------------ #
    # staged-commit protocol
    # ------------------------------------------------------------------ #
    def commit_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{COMMIT_DIR_COL}={version}")

    def staging_path(self, version: int) -> str:
        # dot-prefixed parent: invisible to Spark/Hadoop file listings
        return os.path.join(self.tmp_dir, f"log-v{version}")

    def publish(self, version: int) -> None:
        """Move the staged commit files into the log dir — the step right
        before the catalog CURRENT advance. The destination is numbered
        above CURRENT, so it stays invisible until that advance; a
        crashed attempt's leftover there is swept when the write lock is
        taken (Catalog.write_lock)."""
        fsops.replace_dir(self.staging_path(version), self.commit_path(version))

    def file_schema(self, with_commit_col: bool = False, era=None):
        """Explicit read schema for log files (no inference — empty
        commits and type drift are non-issues). `era` = {field_id ->
        (physical name, physical type)} for files written before a
        rename/retype (types.era_fields_for_commit); current fields
        whose id is absent from the era were added later and are
        surfaced as NULL by the projection, not the read schema."""
        from pyspark.sql import types as T

        from fluss_spark.types import era_struct_fields

        if era is None:
            fields = list(self.schema.to_struct_type().fields)
        else:
            fields = era_struct_fields(self.schema, era)
        if self.schema.is_pk_table:
            fields.append(T.StructField(CHANGE_TYPE_COL, T.StringType(), False))
            fields.append(T.StructField("__seq", T.LongType(), True))
            fields.append(T.StructField("__sub", T.IntegerType(), True))
        fields += [
            T.StructField(BUCKET_COL, T.IntegerType(), True),
            T.StructField(OFFSET_COL, T.LongType(), True),
            T.StructField(TIMESTAMP_COL, T.TimestampType(), True),
        ]
        if with_commit_col:
            fields.append(T.StructField(COMMIT_DIR_COL, T.IntegerType(), True))
        return T.StructType(fields)

    def era_projection(self, era, extra_cols: list[str]):
        from fluss_spark.types import era_projection

        return era_projection(self.schema, era, extra_cols)

    # ------------------------------------------------------------------ #
    # append (S1)
    # ------------------------------------------------------------------ #
    def append(
        self,
        df: DataFrame,
        ordering: list[str] | None = None,
        extra_cols: list[str] | None = None,
        commit_ts_ms: int | None = None,
        auto_increment_override: dict[str, int] | None = None,
    ) -> CommitState:
        """Append a batch; assigns __bucket/__offset/__timestamp and
        commits atomically. `ordering` fixes intra-batch offset order
        (deterministic replay); default is arrival order per partition.
        `extra_cols` admits system columns (e.g. _change_type for PK-table
        WALs) beyond the user schema.
        `auto_increment_override` means the caller already stamped the
        auto-increment columns (pk-table WALs carry insert-stable ids the
        log layer cannot derive) and supplies the advanced counter map;
        the per-record stamping below — correct for plain log tables,
        where every appended record IS an insert — is skipped. The caller
        holds the table write lock.
        """
        schema = self.schema
        state = self.catalog.current_commit(self.db, self.table)
        version = state.version + 1
        ts_ms = commit_ts_ms if commit_ts_ms is not None else int(time.time() * 1000)
        out, auto_next = self._append_plan(
            df, state, ts_ms, ordering, extra_cols, auto_increment_override
        )

        staged = self.staging_path(version)
        part_cols = list(schema.partition_keys) + [BUCKET_COL]
        codec = schema.properties.get("table.log.compression", "snappy")  # W6
        # no repartition before the write: _append_plan's offset window
        # already hash-clustered rows by BUCKET_COL (each bucket lives
        # wholly in one task), so partitionBy(bucket) emits one file per
        # bucket as is — an extra exchange here would shuffle the batch
        # a third time
        (
            out.write.mode("overwrite")
            .option("compression", codec)
            .partitionBy(*part_cols)
            .parquet(staged)
        )

        # new high watermarks from the Parquet FOOTERS of the files just
        # written: row-group max(__offset) per bucket dir, read driver-side
        # (metadata-only) — replaces a full Spark read-back job per commit
        hwm = dict(state.log_hwm)
        for bkt, mx in self._staged_hwm(df.sparkSession, staged).items():
            hwm[str(bkt)] = mx + 1

        new_state = replace(state, version=version, log_hwm=hwm, auto_increment=auto_next, ts_ms=ts_ms)
        self.publish(version)
        self.catalog.commit(self.db, self.table, new_state)
        return new_state

    def _append_plan(
        self,
        df: DataFrame,
        state: CommitState,
        ts_ms: int,
        ordering: list[str] | None,
        extra_cols: list[str] | None,
        auto_increment_override: dict[str, int] | None,
    ) -> tuple[DataFrame, dict[str, int]]:
        """The rows append() writes — routed to buckets, numbered from
        `state`'s HWMs, stamped with `ts_ms` — and the advanced
        auto-increment counters."""
        schema = self.schema
        cols = schema.data_columns() + (extra_cols or [])
        for f in schema.fields:  # engine-assigned columns may be absent
            if f.auto_increment and f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast("long"))
        keep = cols + [c for c in (ordering or []) if c not in cols]
        out = df.select(*keep)
        # coerce data columns to their DECLARED types: an input batch with
        # a narrower/different type (e.g. a SQL literal inferred as
        # DECIMAL) would otherwise write its physical type into the file,
        # and the explicit read schema would misread it
        from fluss_spark.types import parse_type

        declared = {f.name: parse_type(f.type) for f in schema.fields}
        out = out.select(
            *[
                F.col(c).cast(declared[c]).alias(c) if c in declared else F.col(c)
                for c in keep
            ]
        )

        # bucket routing (W1/W2)
        n = schema.num_buckets
        if BUCKET_COL in (extra_cols or []):
            pass  # caller pre-routed (e.g. replay keeps pk-bucket alignment)
        elif schema.bucket_keys:
            out = out.withColumn(
                BUCKET_COL, F.pmod(F.hash(*schema.bucket_keys), F.lit(n)).cast("int")
            )
        else:
            out = out.withColumn(
                BUCKET_COL, (F.spark_partition_id() % F.lit(n)).cast("int")
            )

        # per-bucket offset assignment (W3): one window = the bucket
        # leader, behind ONE exchange sized by exchange_width (not by
        # spark.sql.shuffle.partitions); arrival order is numbered before
        # the exchange moves rows
        if ordering:
            order_cols = [F.col(c) for c in ordering]
        else:
            out = out.withColumn("__arrival", F.monotonically_increasing_id())
            order_cols = [F.col("__arrival")]
        out = out.repartition(exchange_width(out.sparkSession, n), F.col(BUCKET_COL))
        w = Window.partitionBy(BUCKET_COL).orderBy(*order_cols)
        base = {int(b): off for b, off in state.log_hwm.items()}
        # one map literal, not an O(buckets) when-chain: constant
        # expression/codegen depth at any bucket count (same shape as
        # kv.py's fused-commit HWM base)
        base_expr = _bucket_map_expr(base, default=0)
        out = out.withColumn(OFFSET_COL, (F.row_number().over(w) - 1 + base_expr).cast("long"))
        out = out.withColumn(TIMESTAMP_COL, F.timestamp_millis(F.lit(ts_ms)))

        # M10 auto-increment: allocate a contiguous per-bucket segment of
        # ids from the table counter (AutoIncrementManager's segment model,
        # BoundedSegmentSequenceGenerator) — ids are gap-free across the
        # commit because segments are packed by cumulative bucket counts.
        # On a LOG table every appended record is an insert, so the
        # per-record stamp matches the reference's assign-at-insert rule;
        # pk-table WALs arrive pre-stamped (auto_increment_override).
        auto_next = dict(state.auto_increment)
        auto_cols = [f.name for f in schema.fields if f.auto_increment]
        if auto_increment_override is not None:
            auto_next = dict(auto_increment_override)
        elif auto_cols:
            bucket_counts = sorted(
                (int(r[BUCKET_COL]), r["cnt"])
                for r in out.groupBy(BUCKET_COL).agg(F.count("*").alias("cnt")).collect()
            )
            for c in auto_cols:
                base_id = auto_next.get(c, 0)
                seg_start, acc = {}, base_id
                for bkt, cnt in bucket_counts:
                    seg_start[bkt] = acc
                    acc += cnt
                seg_expr = _bucket_map_expr(seg_start, default=base_id)
                out = out.withColumn(c, (seg_expr + F.row_number().over(w) - 1).cast("long"))
                auto_next[c] = acc
        final_cols = [c for c in cols if c not in (BUCKET_COL, OFFSET_COL, TIMESTAMP_COL)]
        # drop ordering-only columns
        return out.select(*final_cols, BUCKET_COL, OFFSET_COL, TIMESTAMP_COL), auto_next

    def _staged_hwm(self, spark: SparkSession, staged: str) -> dict[int, int]:
        """Per-bucket max(__offset) of a written commit dir, from Parquet
        footer statistics (driver-side, metadata-only: one footer read
        per file — O(buckets), independent of rows). Only when a file
        lacks offset stats does a Spark job read the offsets back."""
        import pyarrow.parquet as pq

        def read_back() -> dict[int, int]:
            rows = (
                spark.read.schema(ddl_of(self.file_schema()))
                .option("basePath", staged)
                .parquet(staged)
                .groupBy(BUCKET_COL)
                .agg(F.max(OFFSET_COL).alias("mx"))
                .collect()
            )
            return {int(r[BUCKET_COL]): int(r["mx"]) for r in rows}

        per_bucket: dict[int, int] = {}
        for root, _dirs, files in os.walk(staged):
            marker = f"{BUCKET_COL}="
            bucket = None
            for comp in root.split(os.sep):
                if comp.startswith(marker):
                    bucket = int(comp[len(marker):])
            for fn in files:
                if not fn.endswith(".parquet") or bucket is None:
                    continue
                md = pq.read_metadata(os.path.join(root, fn))
                try:
                    col_idx = md.schema.names.index(OFFSET_COL)
                except ValueError:
                    return read_back()
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col_idx).statistics
                    if st is None or st.max is None:
                        return read_back()
                    per_bucket[bucket] = max(per_bucket.get(bucket, -1), int(st.max))
        return per_bucket

    def committed_dirs(
        self, current: int | None = None, tiers: str = "all"
    ) -> tuple[dict[str, str], dict[str, str]]:
        """(local, remote) maps of commit-dir name -> path readable
        under the fencing invariant, in ONE place: log_floor <= v <=
        current (uncommitted staging and rebucket-shadowed dirs never
        listed; local dirs also from local_floor, below which a log
        compaction rewrote them), and remote dirs shadowed by a
        same-name local dir removed (LOCAL WINS on the crashed-tier_log
        overlap — reading both would double-count the commit). Every
        metadata walk (scan, lake snapshot, footer stats) derives from
        this."""
        state = self.catalog.current_commit(self.db, self.table)
        cur = state.version if current is None else current

        def _dirs(root: str, floor: int) -> dict[str, str]:
            if not os.path.isdir(root):
                return {}
            return {
                e.name: e.path
                for e in os.scandir(root)
                if e.name.startswith(f"{COMMIT_DIR_COL}=")
                and floor <= int(e.name.split("=")[1]) <= cur
            }

        local_floor = max(state.log_floor, state.local_floor)
        local = _dirs(self.log_dir, local_floor) if tiers in ("all", "local") else {}
        remote = _dirs(self.remote_dir, state.log_floor) if tiers in ("all", "remote") else {}
        remote = {n: p for n, p in remote.items() if n not in local}
        return local, remote

    def minmax_from_metadata(self, column: str):
        """A2 statistics pushdown: (min, max) of a numeric/temporal
        column from Parquet footer row-group statistics — driver-side,
        zero file reads, O(files) footer reads (the metadata analog of
        count_from_metadata; reference A2 collects exactly these batch
        stats at write time, LogRecordBatchStatisticsCollector).

        Returns None when footer stats cannot answer exactly, and the
        caller must fall back to a scan: string columns (Parquet may
        truncate binary stats to prefixes), schema-evolution eras
        (physical column names differ per era), partition-key columns
        (values live in dir names, not files), or any file/row-group
        missing stats. Respects the same commit fencing as scan():
        uncommitted dirs, rebucket-shadowed dirs (< log_floor), and
        local-wins tier overlap."""
        import pyarrow.parquet as pq

        from fluss_spark.types import evolution_eras

        if evolution_eras(self.schema):
            return None
        if self.schema.is_pk_table:
            # the WAL retains superseded versions and -U/-D before
            # images; their values would feed the footer min/max even
            # though they are not live rows — only the snapshot can
            # answer exactly
            return None
        if column in self.schema.partition_keys:
            return None
        field = next((f for f in self.schema.fields if f.name == column), None)
        if field is None or field.type.upper() in ("STRING", "VARCHAR", "BYTES", "BINARY"):
            return None
        local, remote = self.committed_dirs()
        return footer_minmax(list(local.values()) + list(remote.values()), column)

    # ------------------------------------------------------------------ #
    # scan (S2/S3/S8)
    # ------------------------------------------------------------------ #
    def _tier_has_commits(self, tier_dir: str) -> bool:
        return os.path.isdir(tier_dir) and any(
            e.name.startswith(f"{COMMIT_DIR_COL}=") for e in os.scandir(tier_dir)
        )

    def hwm_at(self, version: int) -> dict[int, int]:
        """Per-bucket log HWM recorded at a commit version (memoized —
        commit states are immutable once written). Every log writer
        keeps dir `__commit=v` below hwm_at(v) in each bucket, and HWMs
        only grow within [log_floor, current]."""
        cached = self._hwm_cache.get(version)
        if cached is None:
            st = self.catalog.commit_at(self.db, self.table, version)
            cached = {int(b): o for b, o in st.log_hwm.items()}
            self._hwm_cache[version] = cached
        return dict(cached)

    def _first_dir(self, versions: list[int], reached) -> int:
        """Index into ascending `versions` of the first commit dir whose
        recorded HWM map satisfies `reached` (len(versions) if none).
        HWMs only grow, so `reached` turns true once and stays true: a
        binary search over memoized HWMs finds the turn."""
        return bisect.bisect_left(versions, True, key=lambda v: reached(self.hwm_at(v)))

    def scan(
        self,
        spark: SparkSession,
        start_offsets: dict[int, int] | None = None,
        end_offsets: dict[int, int] | None = None,
        as_of_commit: int | None = None,
        tiers: str = "all",
    ) -> DataFrame:
        """Full or offset-bounded log scan with system columns
        (__bucket, __offset, __timestamp[, _change_type]).

        The scan reads exactly the commit dirs it needs, listed with an
        explicit schema: committed_dirs() fences them to
        log_floor <= V <= CURRENT (or `as_of_commit`), and with
        `start_offsets` the dirs whose HWM the start already covers are
        skipped, and with `end_offsets` bounding every bucket the dirs
        after the first one whose HWM reaches the end are cut (the
        LogSegment-slice read of the reference, and
        Structured Streaming's getBatch(start, end)). Poll cost follows
        the new commits, not the retained history. The first dir read
        can start mid-commit, so the per-bucket offset bounds still
        apply, as ONE SQL predicate; Parquet row-group stats on
        __offset prune inside the files.

        S9: when tier_log() has moved sealed commits to the remote tier,
        the scan is the union of both tiers — same files, same offsets,
        no download step (the reference's RemoteLogDownloader exists only
        because its consumers read local disk; a Spark scan reads any
        path). `tiers` restricts to one tier ("local"/"remote") for
        maintenance jobs that must not rewrite the other.
        """
        from functools import reduce

        from fluss_spark.types import evolution_eras

        local, remote = self.committed_dirs(as_of_commit, tiers)
        paths = {int(n.split("=")[1]): p for n, p in {**remote, **local}.items()}
        versions = sorted(paths)
        if start_offsets:
            # a dir whose HWM is at or below the start in every bucket
            # holds nothing new (a bucket missing from the start counts
            # from 0 — the resume escape)
            versions = versions[self._first_dir(
                versions, lambda h: any(o > start_offsets.get(b, 0) for b, o in h.items())
            ):]
        if end_offsets and versions and not set(self.hwm_at(versions[-1])) - set(end_offsets):
            # every bucket is bounded: the dirs after the first one whose
            # HWM reaches the end in every bucket hold only offsets past it
            versions = versions[: 1 + self._first_dir(
                versions, lambda h: all(h.get(b, 0) >= o for b, o in end_offsets.items())
            )]
        if not versions:
            return self._empty_scan(spark)

        # dirs group by tier root and by the schema era that wrote them;
        # each group reads its PHYSICAL layout and projects onto the
        # current schema by field id (rename=alias, retype=cast)
        eras = evolution_eras(self.schema)
        groups: dict[tuple[str, int], list[str]] = {}
        for v in versions:
            era = next((i for i, e in enumerate(eras) if v <= e["until"]), -1)
            groups.setdefault((os.path.dirname(paths[v]), era), []).append(paths[v])
        extras = (
            [CHANGE_TYPE_COL, "__seq", "__sub"] if self.schema.is_pk_table else []
        ) + [BUCKET_COL, OFFSET_COL, TIMESTAMP_COL, COMMIT_DIR_COL]
        frames = []
        for (root, idx), ds in groups.items():
            era_map = (
                None if idx == -1
                else {f["id"]: (f["name"], f["type"]) for f in eras[idx]["fields"]}
            )
            df = (
                spark.read.schema(ddl_of(self.file_schema(with_commit_col=True, era=era_map)))
                .option("basePath", root)
                .parquet(*ds)
            )
            frames.append(df if era_map is None else df.select(self.era_projection(era_map, extras)))
        df = reduce(lambda a, b: a.unionByName(b), frames)

        conds = []
        if start_offsets:
            terms = [
                f"(`{BUCKET_COL}` = {int(b)} AND `{OFFSET_COL}` >= {int(o)})"
                for b, o in sorted(start_offsets.items())
            ]
            # RESUME semantics, not bucket restriction: a bucket absent
            # from the map received its first row after the offsets were
            # recorded (e.g. a new pk hashing to a fresh bucket between
            # commits) — its entire history is new to the caller, so it
            # passes through from offset 0. Excluding it silently LOSES
            # data for every resume-shaped consumer (streaming reader,
            # index/vector-index sync, incremental MT refresh, snapshot
            # diff). Bucket-subset reads use snapshot(buckets=). The
            # escape disjunct is added ONLY when a bucket holding rows in
            # the read dirs (the newest dir's HWM names them all) is
            # missing: it carries no offset term, so it would otherwise
            # cost the OR-of-ANDs its __offset parquet pushdown.
            if set(self.hwm_at(versions[-1])) - set(start_offsets):
                keys = ", ".join(str(int(b)) for b in sorted(start_offsets))
                terms.append(f"`{BUCKET_COL}` NOT IN ({keys})")
            conds.append(f"({' OR '.join(terms)})")
        if end_offsets:
            conds += [
                f"(`{BUCKET_COL}` <> {int(b)} OR `{OFFSET_COL}` < {int(o)})"
                for b, o in sorted(end_offsets.items())
            ]
        if conds:
            df = df.filter(" AND ".join(conds))
        return df.drop(COMMIT_DIR_COL)

    def _empty_scan(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], self.file_schema())

    # ------------------------------------------------------------------ #
    # offsets admin (S8: OffsetSpec EARLIEST/LATEST/TIMESTAMP)
    # ------------------------------------------------------------------ #
    def latest_offsets(self) -> dict[int, int]:
        state = self.catalog.current_commit(self.db, self.table)
        return {int(b): off for b, off in state.log_hwm.items()}

    def earliest_offsets(self) -> dict[int, int]:
        # non-zero once TTL/retention has trimmed the log head
        state = self.catalog.current_commit(self.db, self.table)
        starts = {int(b): off for b, off in state.log_start.items()}
        return {b: starts.get(b, 0) for b in self.latest_offsets()}

    def offsets_for_timestamp(self, spark: SparkSession, ts_ms: int) -> dict[int, int]:
        """First offset per bucket with __timestamp >= ts (TimeIndex lookup
        in the reference; here a stats-pruned min() aggregation)."""
        df = self.scan(spark)
        rows = (
            df.filter(F.col(TIMESTAMP_COL) >= F.timestamp_millis(F.lit(ts_ms)))
            .groupBy(BUCKET_COL)
            .agg(F.min(OFFSET_COL).alias("mn"))
            .collect()
        )
        out = self.latest_offsets()  # buckets with no newer data -> read from end
        for r in rows:
            out[int(r[BUCKET_COL])] = int(r["mn"])
        return out

    def count_from_metadata(self) -> int:
        """A1: count(*) served from commit metadata — no file reads
        (PushdownUtils.countTable equivalent): sum of (hwm - start) per
        bucket, exact even after TTL trims the log head."""
        earliest = self.earliest_offsets()
        return sum(off - earliest.get(b, 0) for b, off in self.latest_offsets().items())


def footer_minmax(paths: list[str], column: str):
    """(min, max) of `column` over every Parquet row group under
    `paths` from footer statistics only — shared by the log-tier A2
    walk and the pk-snapshot walk. Returns None (caller falls back to a
    scan) when any row group lacks exact stats for the column."""
    import pyarrow.parquet as pq

    lo = hi = None
    for d in paths:
        for root, _dirs_, files in os.walk(d):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(root, fn))
                try:
                    idx = md.schema.names.index(column)
                except ValueError:
                    return None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        return None  # e.g. an all-null row group
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)
