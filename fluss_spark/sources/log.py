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
from dataclasses import dataclass, replace

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
    ddl_of,
)

COMMIT_DIR_COL = "__commit"


def keyed_literal(values: dict, key: str, default: str) -> str:
    """`values[key column]`, else `default`, as ONE map literal (SQL):
    constant expression depth at any key count, where a chained CASE
    would grow O(keys), and generated code holds the map as a reference
    object, so a commit's own values compile no class."""
    if not values:
        return default
    pairs = ", ".join(f"{k}, {v}" for k, v in values.items())
    return f"coalesce(element_at(map({pairs}), `{key}`), {default})"


def id_segments(counters: dict[str, int], cols: list[str], bucket_counts) -> tuple[dict, dict]:
    """M10 auto-increment: each column's contiguous per-bucket id
    segments, packed from its table counter by cumulative bucket counts
    (AutoIncrementManager's segment model, BoundedSegmentSequenceGenerator),
    so ids are gap-free across the commit. `bucket_counts` = sorted
    (bucket, rows) pairs. Returns ({column: {bucket: first id}}, the
    advanced counters)."""
    nxt, segs = dict(counters), {}
    for c in cols:
        seg, acc = {}, nxt.get(c, 0)
        for bkt, cnt in bucket_counts:
            seg[bkt] = acc
            acc += cnt
        segs[c], nxt[c] = seg, acc
    return segs, nxt


def commit_dirs(root: str) -> list[tuple[int, str]]:
    """(version, path) of every `__commit=<v>` dir under one tier root,
    in version order — the one walk over a tier's commit dirs (unfenced:
    callers that read apply the catalog's fences, see
    LogStore.committed_dirs)."""
    if not os.path.isdir(root):
        return []
    prefix = f"{COMMIT_DIR_COL}="
    return sorted(
        (int(e.name[len(prefix):]), e.path) for e in os.scandir(root) if e.name.startswith(prefix)
    )


@dataclass(frozen=True)
class LogSlice:
    """One slice [start, end) of a per-bucket offset subscription, every
    bucket present in both maps, pinned to commit `version`; `epoch` is
    the bucket epoch the consumer records beside `end`."""

    start: dict[int, int]
    end: dict[int, int]
    epoch: str
    version: int

    @property
    def empty(self) -> bool:
        return all(o <= self.start.get(b, 0) for b, o in self.end.items())


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
        # version -> (per-bucket HWM, bucket epoch) at that commit (cursor_at)
        self._cursor_cache: dict[int, tuple[dict[int, int], str]] = {}

    # ------------------------------------------------------------------ #
    # staged-commit protocol
    # ------------------------------------------------------------------ #
    def commit_path(self, version: int, root: str | None = None) -> str:
        return os.path.join(root or self.log_dir, f"{COMMIT_DIR_COL}={version}")

    def staging_path(self, version: int) -> str:
        # dot-prefixed parent: invisible to Spark/Hadoop file listings
        return os.path.join(self.tmp_dir, f"log-v{version}")

    @property
    def codec(self) -> str:
        """The table's Parquet codec (W6 `table.log.compression`), for
        every log and snapshot file the engine writes."""
        return self.schema.properties.get("table.log.compression", "snappy")

    def publish(self, version: int) -> None:
        """Move the staged commit files into the log dir — the step right
        before the catalog CURRENT advance. The destination is numbered
        above CURRENT, so it stays invisible until that advance; a
        crashed attempt's leftover there is swept when the write lock is
        taken (Catalog.write_lock)."""
        fsops.replace_dir(self.staging_path(version), self.commit_path(version))

    def write_commit(self, frame: DataFrame, state: CommitState, **changes) -> CommitState:
        """The one log commit-dir write: `frame` (shaped and clustered by
        the caller — no exchange is added here) lands staged as commit
        state.version + 1, laid out `[<partition>=<v>/]__bucket=<b>` with
        the table codec; each bucket's HWM is raised to its rows' footer
        max + 1; then the dir is published and the new state — `state`
        with `changes` applied — committed. The caller holds the table
        write lock."""
        new = replace(state, version=state.version + 1, **changes)
        staged = self.staging_path(new.version)
        (
            frame.write.mode("overwrite")
            .option("compression", self.codec)
            .partitionBy(*self.schema.partition_keys, BUCKET_COL)
            .parquet(staged)
        )
        hwm = dict(new.log_hwm)
        for bkt, mx in self._staged_hwm(frame.sparkSession, staged).items():
            hwm[str(bkt)] = max(hwm.get(str(bkt), 0), mx + 1)
        new = replace(new, log_hwm=hwm)
        self.publish(new.version)
        self.catalog.commit(self.db, self.table, new)
        return new

    def retire_below(self, floor: int, local_only: bool = False) -> None:
        """Delete the commit dirs numbered below `floor` (both tiers, or
        the local one). Pure garbage collection of dirs a committed
        floor already fences from every reader, so it is safe to crash
        out of and to re-run."""
        for root in (self.log_dir,) if local_only else (self.remote_dir, self.log_dir):
            for v, path in commit_dirs(root):
                if v < floor:
                    fsops.remove(path)

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
        commit_ts_ms: int | None = None,
    ) -> CommitState:
        """Append a batch; assigns __bucket/__offset/__timestamp and
        commits atomically. `ordering` fixes intra-batch offset order
        (deterministic replay); default is arrival order per partition.
        The caller holds the table write lock."""
        state = self.catalog.current_commit(self.db, self.table)
        ts_ms = commit_ts_ms if commit_ts_ms is not None else int(time.time() * 1000)
        out, auto_next = self._append_plan(df, state, ts_ms, ordering)
        # no repartition before the write: _append_plan's offset window
        # already hash-clustered rows by BUCKET_COL (each bucket lives
        # wholly in one task), so partitionBy(bucket) emits one file per
        # bucket as is — an extra exchange here would shuffle the batch
        # a third time
        return self.write_commit(out, state, auto_increment=auto_next, ts_ms=ts_ms)

    def _append_plan(
        self,
        df: DataFrame,
        state: CommitState,
        ts_ms: int,
        ordering: list[str] | None,
    ) -> tuple[DataFrame, dict[str, int]]:
        """The rows append() writes — routed to buckets, numbered from
        `state`'s HWMs, stamped with `ts_ms` — and the advanced
        auto-increment counters."""
        schema = self.schema
        cols = schema.data_columns()
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
        if schema.bucket_keys:
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
        # one map literal, not an O(buckets) when-chain: constant
        # expression/codegen depth at any bucket count (same shape as
        # kv.py's fused-commit HWM base)
        base_expr = F.expr(keyed_literal(
            {int(b): f"CAST({int(off)} AS BIGINT)" for b, off in state.log_hwm.items()},
            BUCKET_COL, "CAST(0 AS BIGINT)",
        ))
        out = out.withColumn(OFFSET_COL, (F.row_number().over(w) - 1 + base_expr).cast("long"))
        out = out.withColumn(TIMESTAMP_COL, F.timestamp_millis(F.lit(ts_ms)))

        # M10 auto-increment: on a LOG table every appended record is an
        # insert, so the per-record stamp matches the reference's
        # assign-at-insert rule
        auto_cols = [f.name for f in schema.fields if f.auto_increment]
        auto_next = dict(state.auto_increment)
        if auto_cols:
            bucket_counts = sorted(
                (int(r[BUCKET_COL]), r["cnt"])
                for r in out.groupBy(BUCKET_COL).agg(F.count("*").alias("cnt")).collect()
            )
            segs, auto_next = id_segments(auto_next, auto_cols, bucket_counts)
            for c in auto_cols:
                seg_expr = F.expr(keyed_literal(
                    {b: f"CAST({s} AS BIGINT)" for b, s in segs[c].items()},
                    BUCKET_COL, f"CAST({state.auto_increment.get(c, 0)} AS BIGINT)",
                ))
                out = out.withColumn(c, (seg_expr + F.row_number().over(w) - 1).cast("long"))
        # drop ordering-only columns
        return out.select(*cols, BUCKET_COL, OFFSET_COL, TIMESTAMP_COL), auto_next

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
    ) -> tuple[dict[int, str], dict[int, str]]:
        """(local, remote) maps of commit version -> dir path readable
        under the fencing invariant, in ONE place: log_floor <= v <=
        current (uncommitted staging and rebucket-shadowed dirs never
        listed; local dirs also from local_floor, below which a log
        compaction rewrote them), dirs a log trim expired (every bucket's
        HWM at v within log_start) left out, and remote dirs shadowed by
        a same-version local dir removed (LOCAL WINS on the
        crashed-tier_log overlap — reading both would double-count the
        commit). Every metadata walk (scan, lake snapshot, footer stats)
        derives from this."""
        state = self.catalog.current_commit(self.db, self.table)
        cur = state.version if current is None else current

        def _dirs(root: str, floor: int) -> dict[int, str]:
            return {v: p for v, p in commit_dirs(root) if floor <= v <= cur}

        local_floor = max(state.log_floor, state.local_floor)
        local = _dirs(self.log_dir, local_floor) if tiers in ("all", "local") else {}
        remote = _dirs(self.remote_dir, state.log_floor) if tiers in ("all", "remote") else {}
        remote = {v: p for v, p in remote.items() if v not in local}
        if state.log_start:
            # a trim commits its new log_start before it deletes the
            # expired dirs: the dirs below the first one holding an
            # offset past log_start are expired (HWMs only grow)
            start = {int(b): o for b, o in state.log_start.items()}
            versions = sorted({**local, **remote})
            live = set(versions[self._first_dir(
                versions, lambda h: any(o > start.get(b, 0) for b, o in h.items())
            ):])
            local = {v: p for v, p in local.items() if v in live}
            remote = {v: p for v, p in remote.items() if v in live}
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
    def hwm_at(self, version: int) -> dict[int, int]:
        """Per-bucket log HWM recorded at a commit version. Every log
        writer keeps dir `__commit=v` below hwm_at(v) in each bucket, and
        HWMs only grow within [log_floor, current]."""
        return self.cursor_at(version)[0]

    @staticmethod
    def cursor(state: CommitState) -> tuple[dict[int, int], str]:
        """The cursor of a consumer that read through commit `state`: its
        per-bucket HWMs and bucket epoch. The epoch is the log_floor,
        which only a rebucket moves."""
        return {int(b): o for b, o in state.log_hwm.items()}, str(state.log_floor)

    def cursor_at(self, version: int) -> tuple[dict[int, int], str]:
        """cursor() of commit `version` (memoized — commit states are
        immutable once written)."""
        cached = self._cursor_cache.get(version)
        if cached is None:
            cached = self.cursor(self.catalog.commit_at(self.db, self.table, version))
            self._cursor_cache[version] = cached
        return dict(cached[0]), cached[1]

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
        paths = {**remote, **local}
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

    def slice_from(
        self,
        offsets: dict | None,
        epoch: str | None,
        remedy: str,
        until: dict | None = None,
        state: CommitState | None = None,
    ) -> LogSlice:
        """The one step that resumes a per-bucket offset subscription
        (the reference's LogScannerStatus positions advanced by poll();
        FlussMicroBatchStream's {bucket: offset} ranges). `offsets` and
        `epoch` are the consumer's recorded cursor; None starts fresh
        from a cursor pinned here: the earliest retained offsets and the
        current epoch. ONE catalog read fixes the slice: its end, the
        epoch to record, and the version a bootstrap snapshot reads. The
        end is the HWMs (or `until`'s) with EVERY bucket present, those
        without rows at 0: an end map missing a bucket leaves it
        unbounded (scan()), so a first row committed there after the end
        was fixed would be read in this slice and again in the next.
        A recorded cursor is fenced twice, with `remedy` appended:
          - epoch: the bucket layout's epoch is the log_floor, which
            only a rebucket moves; per-bucket offsets compare only
            within one epoch;
          - retention: a slice that needs an offset below the earliest
            retained one (a TTL or trim expired it unread) would lose
            those rows silently.
        `state` is the current commit state when the caller has just
        read it (the one read then is the caller's)."""
        state = state or self.catalog.current_commit(self.db, self.table)
        hwm, now = self.cursor(state)
        n = state.num_buckets or self.schema.num_buckets
        end = {b: 0 for b in range(n)} | {
            int(b): o for b, o in (hwm if until is None else until).items()
        }
        earliest = {int(b): o for b, o in state.log_start.items()}
        if offsets is None:
            return LogSlice({b: earliest.get(b, 0) for b in end}, end, now, state.version)
        name = f"{self.db}.{self.table}"
        if epoch != now:
            raise ValueError(
                f"{name} was rebucketed (bucket epoch {epoch} -> {now}) after these "
                "offsets were recorded: per-bucket offsets are not comparable "
                f"across a rebucket; {remedy}"
            )
        start = {b: 0 for b in end} | {int(b): int(o) for b, o in offsets.items()}
        expired = {
            b: (o, earliest[b]) for b, o in start.items()
            if o < min(end.get(b, 0), earliest.get(b, 0))
        }
        if expired:
            raise ValueError(
                f"{name} expired unconsumed changelog (bucket: (start, earliest) "
                f"= {expired}); {remedy}"
            )
        return LogSlice(start, end, now, state.version)

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
