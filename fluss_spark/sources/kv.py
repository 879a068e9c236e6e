"""Primary-key (KV) table store: upsert transaction, incremental
bucket-manifest snapshots, lookups, changelog views.

The reference's write path (server/kv/KvTablet.java:514-792) reads the
old value from RocksDB per record, merges, and appends +I/-U/+U/-D rows
to the WAL; KV snapshots upload per-tablet and only changed tablets
produce new files (server/kv/snapshot/). Here one deterministic
transaction does all of it set-at-a-time, and every commit — eager,
deferred, group (upsert_many) and optimistic — takes the same route:

  1. seed   = the snapshot rows of the batch's buckets ((partition,
              bucket) pairs on partitioned tables): the distributed
              read-old, O(touched buckets), not O(table)
  2. fold   = ONE fold input (seed ∪ batches, hash-partitioned by
              bucket, sorted by (bucket, pk, seed first, ordering);
              _fold_input_sql) and ONE pass per key, as the reference
              handles each record once (read old, merge, append,
              update): the window that numbers `__seq` also yields the
              lagged state and the key's last row, and one generator
              emits each key's WAL events AND its snapshot image — the
              after-image of its last row, or the seed row itself when
              no batch row touched the key (_fold). The default engine
              does this in one SQL statement; every other shape runs
              operators/replay.py to the same contract
  3. ONE write action produces BOTH commit artifacts as sibling
     partition dirs (__dest=w -> WAL, __dest=s -> snapshot): one
     bucket-window pass assigns per-bucket __offset to the events and
     keeps the images only in units that saw an event. ONLY touched
     snapshot units are rewritten — the unit is the bucket (plain pk
     tables) or the (partition, bucket) pair (partitioned ones);
     untouched units stay as prior-version files, referenced through a
     per-version manifest, so per-commit write cost is O(touched
     units), not O(table) (_commit_plan)
  4. the driver moves __dest=w/__dest=s into the log commit dir and
     snapshot/data-vN and writes the manifest (_repoint, which every
     snapshot writer publishes through) and commit records, all
     numbered above CURRENT (invisible; a crash leaves garbage the next
     write lock sweeps), then one CURRENT write advances the table to
     V' (_commit_finish; a group publishes one version per batch)

Because a key's WAL events and its snapshot image come from the SAME
evaluated fold rows in one generator, they cannot diverge even under
non-deterministic input or task retries — the single-action
successor to the WAL-first barrier (the reference's WAL *is* the
changelog, KvTablet.java:562-591: one append, not two passes), and
"changelog replay reproduces the snapshot" (SortMergeReader.java:30-55)
stays an *executed invariant* of every commit.

Every pk-table layout takes the single action: partitioned tables
(partitions sit above buckets in the physical layout, the reference's
metadata/TableBucket.java) emit partition dirs on BOTH siblings —
`__dest=w/<part>/__bucket=` matches the WAL layout and
`__dest=s/<part>/__bucket=` gives pk snapshots partition-directory
pruning; auto-increment tables pre-assign their id segments
driver-side from a persisted fold (one tiny count job) and stamp ids
inside the same commit window. A deferred commit
(`table.snapshot.defer-commits` > 1) is the same action writing only
the WAL sibling. tests/test_commit_equivalence.py compares the
artifacts against an independent two-pass derivation kept in tests/.
"""

from __future__ import annotations

import decimal
import glob
import json
import math
import os
import time
from dataclasses import replace
from functools import cached_property, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.window import Window

from fluss_spark import fsops
from fluss_spark.bucketing import bucket_of, exact, exchange_width, to_internal
from fluss_spark.catalog import Catalog, CommitState
from fluss_spark.operators.replay import (
    DEST_COL,
    OP_COL,
    SEED_COL,
    SEQ_COL,
    SUB_COL,
    replay,
)
from fluss_spark.registry import session_key
from fluss_spark.sources.log import LogStore
from fluss_spark.types import (
    BUCKET_COL,
    CHANGE_TYPE_COL,
    DELETE,
    INSERT,
    OFFSET_COL,
    TIMESTAMP_COL,
    parse_type,
)

# group-commit batch index: rides the fused fold as the most-significant
# fold-order component (ORDER BY __grp, __seq everywhere __seq orders),
# and the write action partitions the WAL side by it (__g=<idx> dirs →
# one commit version per batch). Seed rows carry -1 (sort first).
GRP_COL = "__grp"

# largest batch (partition, bucket)-pair set that still builds a typed
# pair predicate + manifest-key pruning for the seed/prior reads; a
# corpus-wide backfill above it falls back to bucket-only bounding
# rather than exploding the plan with an O(pairs) OR-of-ANDs
PAIR_SCOPE_MAX = 512

# Reentrant, session-shared scope for the commit transaction's AQE-off
# window: `spark.conf` is SESSION-global, so two commit transactions
# overlapped from driver threads (independent tables — guide §2.6 job
# overlap) must not race the naive get/set/restore pattern, which can
# restore the other thread's temporary "false" and leave the session
# with AQE off for every later query. Depth-counted per session: the
# first enter saves the user's value and turns AQE off, the last exit
# restores it.
import threading as _threading

_AQE_LOCK = _threading.Lock()
# SparkSession identity -> [depth, saved value, session]. spark.conf is
# PER-SESSION (not per-context), so the scope must key on the session
# object itself — keying on applicationId would skip the disable for a
# second newSession() on the same context and restore the saved value
# onto the wrong session. The session reference is held only while a
# depth > 0 scope is open (bounded: commit transactions are short).
_AQE_STATE: dict[int, list] = {}
_AQE_KEY = "spark.sql.adaptive.enabled"


def _aqe_off_enter(spark: SparkSession) -> None:
    with _AQE_LOCK:
        sid = id(spark)
        st = _AQE_STATE.get(sid)
        if st is None:
            prev = spark.conf.get(_AQE_KEY, "true")
            spark.conf.set(_AQE_KEY, "false")
            _AQE_STATE[sid] = [1, prev, spark]
        else:
            st[0] += 1


def _aqe_off_exit(spark: SparkSession) -> None:
    with _AQE_LOCK:
        sid = id(spark)
        st = _AQE_STATE.get(sid)
        if st is None:
            return
        st[0] -= 1
        if st[0] <= 0:
            st[2].conf.set(_AQE_KEY, st[1])
            del _AQE_STATE[sid]


def _commit_ts(commit_ts_ms: int | None) -> int:
    """A commit's timestamp: the caller's, else now (epoch millis)."""
    return int(time.time() * 1000) if commit_ts_ms is None else int(commit_ts_ms)


def _keyed_literal(values: dict, key: str, default: str) -> str:
    """`values[key column]`, else `default`, as ONE map literal: constant
    expression depth at any key count, and generated code holds the map
    as a reference object, so a commit's own values compile no class."""
    if not values:
        return default
    pairs = ", ".join(f"{k}, {v}" for k, v in values.items())
    return f"coalesce(element_at(map({pairs}), `{key}`), {default})"


class CommitConflictError(RuntimeError):
    """An optimistic commit lost its validation: a concurrent commit
    touched one of this writer's snapshot units (or changed table-wide
    state — schema, log floor, pending tail) between the writer's base
    read and its commit attempt. The transaction wrote nothing visible;
    the caller may retry against the new state (upsert_optimistic does
    so automatically up to max_retries)."""


class KvStore:
    def __init__(self, catalog: Catalog, db: str, table: str):
        self.catalog = catalog
        self.db = db
        self.table = table
        self.schema = catalog.get_schema(db, table)
        if not self.schema.is_pk_table:
            raise ValueError(f"{db}.{table} is not a primary-key table")
        self.log = LogStore(catalog, db, table)
        self.snapshot_dir = os.path.join(catalog.table_dir(db, table), "snapshot")
        self.manifest_dir = os.path.join(catalog.table_dir(db, table), "meta", "snapshots")
        # analyzed-DataFrame cache for snapshot data dirs: a data dir is
        # IMMUTABLE once a committed manifest references it (GC only
        # deletes dirs no retained manifest references), so the resolved
        # read plan can be reused across commits — the seed probe and
        # the commit's prior-row feed re-read every referenced dir each
        # commit, and the JVM analysis round was a measurable slice of
        # the per-commit driver gap. Keyed by (data dir, spark session).
        self._dir_cache: dict[tuple, DataFrame] = {}
        self._partpath_parse_cache: dict[tuple[str, str], tuple | None] = {}

    # ------------------------------------------------------------------ #
    # manifests
    #
    # Unpartitioned tables: per-version {bucket -> data dir name} — the
    # bucket is the snapshot unit, rewriting it replaces the whole
    # bucket.
    #
    # Partitioned tables: per-version {(partition path, bucket) -> data
    # dir} — the snapshot unit is the (partition, bucket) PAIR, exactly
    # the reference's TableBucket (metadata/TableBucket.java holds
    # (partitionId, bucket)). A commit touching one partition rewrites
    # only that partition's pairs; every other partition's files are
    # untouched bytes referenced through older manifest entries. The
    # manifest also records, per data dir, the pair set the dir was
    # WRITTEN with ("dir_pairs"): a dir can physically hold pairs a
    # newer dir has since superseded, and readers subtract the
    # superseded set (dir_pairs - currently-mapped) as a small
    # anti-filter instead of enumerating every live pair — O(pairs
    # rewritten since the last compaction), not O(table partitions).
    # Partition paths are the hive-style dir strings Spark wrote
    # (taken from directory walks, never re-derived from values, so
    # escaping stays consistent end to end).
    # ------------------------------------------------------------------ #
    def _manifest(self, version: int):
        """{bucket -> dir} (unpartitioned) or {(partpath, bucket) ->
        dir} (partitioned); None if the version has no manifest."""
        p = os.path.join(self.manifest_dir, f"v{version}.json")
        if version < 0 or not os.path.exists(p):
            return None
        with open(p) as f:
            doc = json.load(f)
        if "pairs" in doc:
            return {
                (pp, int(b)): d
                for pp, bks in doc["pairs"].items()
                for b, d in bks.items()
            }
        return {int(k): v for k, v in doc["buckets"].items()}

    def _manifest_dir_pairs(self, version: int) -> dict[str, list]:
        """{dir -> [(partpath, bucket), ...]} the dir was written with
        (partitioned manifests only; {} otherwise)."""
        p = os.path.join(self.manifest_dir, f"v{version}.json")
        if version < 0 or not os.path.exists(p):
            return {}
        with open(p) as f:
            doc = json.load(f)
        return {
            d: [(pp, int(b)) for pp, b in pairs]
            for d, pairs in doc.get("dir_pairs", {}).items()
        }

    def _write_manifest(
        self,
        version: int,
        entries: dict,
        dir_pairs: dict[str, list] | None = None,
    ) -> None:
        if self.schema.partition_keys:
            pairs: dict[str, dict[str, str]] = {}
            for (pp, b), d in entries.items():
                pairs.setdefault(pp, {})[str(int(b))] = d
            referenced = set(entries.values())
            doc = {
                "pairs": pairs,
                "dir_pairs": {
                    d: [[pp, int(b)] for pp, b in sorted(ps)]
                    for d, ps in (dir_pairs or {}).items()
                    if d in referenced
                },
            }
        else:
            doc = {"buckets": {str(k): v for k, v in entries.items()}}
        fsops.write_atomic(os.path.join(self.manifest_dir, f"v{version}.json"), json.dumps(doc))

    @staticmethod
    def _walk_pairs(root: str) -> list[tuple[str, int]]:
        """(partition path, bucket) pairs physically present under a
        written dir (WAL staging or snapshot data dir), from the
        hive-style dir names Spark emitted."""
        marker = f"{BUCKET_COL}="
        out = []
        for r, dirs, _files in os.walk(root):
            for d in dirs:
                if d.startswith(marker):
                    rel = os.path.relpath(r, root)
                    out.append(("" if rel == "." else rel, int(d[len(marker):])))
        return sorted(out)

    # ------------------------------------------------------------------ #
    # snapshot rewrite: every writer of a snapshot data dir — the fused
    # commit, materialize, snapshot compaction and rebucket — publishes
    # it through _repoint; all but the fused commit (whose images come
    # out of its one write action) write it through _rewrite_units
    # ------------------------------------------------------------------ #
    @staticmethod
    def _data_dir(version: int) -> str:
        """Name of the snapshot data dir a version writes."""
        return f"data-v{version}"

    def _repoint(
        self, version: int, base_snapshot_version: int, data_dir: str, touched=None
    ) -> None:
        """Write manifest v`version`: the base version's manifest with
        each touched unit (a bucket, or a (partition path, bucket) pair)
        pointed at `data_dir` when the dir holds it and dropped
        otherwise (every key of the unit was deleted). `touched=None`
        rewrites every unit: the manifest is exactly the dir's units.
        A partitioned manifest carries the base's `dir_pairs` forward
        and records the pairs `data_dir` was written with."""
        pcols = self.schema.partition_keys
        written = self._walk_pairs(os.path.join(self.snapshot_dir, data_dir))
        held = set(written) if pcols else {b for _pp, b in written}
        if touched is None:
            manifest, dir_pairs, touched = {}, {}, held
        else:
            manifest = dict(self._manifest(base_snapshot_version) or {})
            dir_pairs = self._manifest_dir_pairs(base_snapshot_version)
        for unit in sorted(touched):
            if unit in held:
                manifest[unit] = data_dir
            else:
                manifest.pop(unit, None)
        dir_pairs[data_dir] = written
        self._write_manifest(version, manifest, dir_pairs if pcols else None)

    def _rewrite_units(
        self,
        spark: SparkSession,
        frame: DataFrame,
        version: int,
        units=None,
        num_buckets: int | None = None,
    ) -> None:
        """Write `frame` — the current rows of the `units` it rewrites —
        as snapshot data dir `data-v<version>`, laid out
        `[<partition>=<v>/]__bucket=<b>` like the fused commit's images
        and with the table's log codec, then publish manifest v`version`
        (_repoint). `units=None` rewrites every unit; `num_buckets`
        routes the rows by a new bucket count (rebucket). Numbered above
        CURRENT, both stay invisible until the caller commits the
        version; the caller holds the table write lock."""
        n = num_buckets or self.schema.num_buckets
        buckets = None if units is None else sorted({u if isinstance(u, int) else u[1] for u in units})
        data_dir = self._data_dir(version)
        (
            frame.withColumn(BUCKET_COL, self._bucket_expr(n))
            .repartition(exchange_width(spark, n, buckets), F.col(BUCKET_COL))
            .write.mode("overwrite")
            .option("compression", self.schema.properties.get("table.log.compression", "snappy"))
            .partitionBy(*self.schema.partition_keys, BUCKET_COL)
            .parquet(os.path.join(self.snapshot_dir, data_dir))
        )
        base = self.catalog.current_commit(self.db, self.table).snapshot_version
        self._repoint(version, base, data_dir, units)

    def _parsed_partpath(self, partpath: str, tz: str):
        """The `_partition_key` of a manifest partpath (always PARSE dir
        strings, never construct them): each value unescaped and cast to
        its column's `bucketing.to_internal` form as Spark's partition
        discovery casts it, TIMESTAMP_LTZ in the session time zone `tz`;
        None if a segment does not parse. Cached per (partpath, tz)."""
        import urllib.parse

        cached = self._partpath_parse_cache.get((partpath, tz), False)
        if cached is not False:
            return cached
        types = {f.name: parse_type(f.type) for f in self.schema.fields}
        try:
            out = _partition_key(
                to_internal(urllib.parse.unquote(v), types[k], tz)
                for k, v in (seg.split("=", 1) for seg in partpath.split("/"))
            )
        except (ValueError, KeyError, TypeError, ArithmeticError):
            out = None
        self._partpath_parse_cache[(partpath, tz)] = out
        return out

    def _partpath_filter(self, partpath: str):
        """Typed Spark predicate matching one partition path: each
        hive segment's value string is unescaped and CAST to the
        declared column type — the same parse Spark's own partition
        discovery applies, so the comparison is value-exact without
        re-deriving any path string."""
        import urllib.parse

        types = {f.name: parse_type(f.type) for f in self.schema.fields}
        cond = F.lit(True)
        for seg in partpath.split("/"):
            if not seg:
                continue
            k, v = seg.split("=", 1)
            cond = cond & (
                F.col(k) == F.lit(urllib.parse.unquote(v)).cast(types[k])
            )
        return cond

    def _bucket_expr(self, num_buckets: int | None = None):
        n = num_buckets or self.schema.num_buckets
        return F.pmod(F.hash(*self.schema.bucket_keys), F.lit(n)).cast("int")

    def _bucket_sql(self) -> str:
        """SQL-string form of _bucket_expr (whole-select plan building)."""
        keys = ", ".join(f"`{c}`" for c in self.schema.bucket_keys)
        return f"CAST(pmod(hash({keys}), {self.schema.num_buckets}) AS INT)"

    # ------------------------------------------------------------------ #
    # upsert / delete transaction (M1-M9)
    # ------------------------------------------------------------------ #
    def _defer_commits(self) -> int:
        return int(self.schema.properties.get("table.snapshot.defer-commits", "1") or "1")

    def upsert(
        self,
        df: DataFrame,
        ordering: list[str] | None = None,
        partial_update_cols: list[str] | None = None,
        commit_ts_ms: int | None = None,
        merge_mode: str | None = None,
        batch_buckets: list[int] | None = None,
    ) -> CommitState:
        """Apply a batch of upserts/deletes. Rows may carry an `__op`
        column ('U'/'D'); absent means all upserts. `ordering` fixes the
        intra-batch fold order per key (default: arrival order).
        `partial_update_cols` = target columns incl. pk (M3,
        client/table/writer/Upsert.java:39-59). `batch_buckets` (a
        SUPERSET of the batch keys' buckets, e.g. known from an earlier
        aggregation of the same frame) skips the per-commit bucket
        discovery job that otherwise bounds the seed read. The caller
        holds the table write lock (see _transaction)."""
        return self._transaction(
            [df], ordering, [_commit_ts(commit_ts_ms)], batch_buckets,
            partial_update_cols, merge_mode,
        )[-1]

    def upsert_many(
        self,
        batches: list[DataFrame],
        ordering: list[str] | None = None,
        commit_ts_ms: int | list[int] | None = None,
        batch_buckets: list[int] | None = None,
    ) -> list[CommitState]:
        """Group commit: fold N pending batches through ONE fused
        single-exchange transaction and ONE write action, publishing N
        commit versions (the reference amortizes its per-commit server
        round trip the same way — accumulated write batches flushed
        together). Equivalence contract with N sequential `upsert()`
        calls, pinned by tests/test_group_commit.py:
          - WAL contents byte-identical: per-batch `__seq` restarts at 1
            (numbered within the batch), offsets are one running count
            in (__grp, __seq) order — exactly the sequential bases —
            and each batch's rows land in their own commit=V dir;
          - the final snapshot is identical (the fold chains per-key
            state across batches just as commit N's seed is commit
            N-1's snapshot);
          - intermediate versions are WAL-only states (snapshot_version
            stays at the base — the sparse-version shape deferred
            commits and log compaction already produce), so time travel
            to them folds the offset-bounded changelog slice and returns
            the exact same rows, trading a tail fold at read time for
            N-1 saved write actions + snapshot rewrites.
        The group rides the same transaction as a single upsert. Shapes
        whose fold is not the default-engine SQL fold (non-default merge
        engines, partial updates, DELETE-disabled batches with deletes),
        auto-increment tables (ids are packed per commit) and deferred
        tables (a materialization may fall between any two commits)
        commit the batches one `upsert()` at a time."""
        batches = [b for b in batches]
        if not batches:
            raise ValueError("upsert_many requires at least one batch")
        if isinstance(commit_ts_ms, (list, tuple)):
            if len(commit_ts_ms) != len(batches):
                raise ValueError("commit_ts_ms list must match batches")
            ts_list = [int(t) for t in commit_ts_ms]
        else:
            ts_list = [_commit_ts(commit_ts_ms)] * len(batches)
        groupable = (
            len(batches) > 1
            and self._defer_commits() <= 1
            and not any(f.auto_increment for f in self.schema.fields)
            and all(self._sql_fold_ok(b, None, None) for b in batches)
        )
        if not groupable:
            return [
                self.upsert(
                    b, ordering=ordering, commit_ts_ms=ts,
                    batch_buckets=batch_buckets,
                )
                for b, ts in zip(batches, ts_list)
            ]
        return self._transaction(batches, ordering, ts_list, batch_buckets)

    def upsert_optimistic(
        self,
        df: DataFrame,
        ordering: list[str] | None = None,
        partial_update_cols: list[str] | None = None,
        commit_ts_ms: int | None = None,
        merge_mode: str | None = None,
        batch_buckets: list[int] | None = None,
        max_retries: int = 3,
        _pre_lock_hook=None,
    ) -> CommitState:
        """Upsert WITHOUT holding the table write lock across the heavy
        work — the optimistic-concurrency successor to the global
        single-writer transaction, mirroring the reference's
        per-TableBucket leader parallelism (server/replica/
        ReplicaManager.java runs one leader per (partition, bucket);
        appends to different TableBuckets never serialize on each
        other). It is the serial transaction with a different publish:

          1. read the base state; build the fold and the fused commit
             frame against it; WRITE the combined siblings to a
             uniquely-named inflight staging dir — all outside the lock,
             so two writers' Spark jobs genuinely overlap;
          2. take the lock BRIEFLY: re-read the state and validate that
             no intermediate commit touched this writer's snapshot
             units ((partition, bucket) pairs, or buckets when
             unpartitioned) — manifest entries for the units must be
             unchanged, plus table-wide fences (schema, log floor, no
             pending WAL tail);
          3. pair-disjoint concurrent commits may still share a BUCKET's
             offset space (partitions layer above buckets; the offset
             counter is per bucket): rebase by shifting the staged WAL's
             contended bucket dirs up by the concurrent rows' count —
             O(contended buckets of this batch), zero when bucket sets
             are disjoint — then publish on top of the CURRENT state.

        On a conflict the staged files are discarded and the whole
        transaction re-runs against the new state (the seed must be
        re-read — a conflicting commit may have changed this batch's
        keys), up to `max_retries` times before CommitConflictError.

        Refused for auto-increment tables (the id counter is
        table-global: two concurrent minters would collide) and deferred
        materialization (a WAL-only commit's coverage bookkeeping is a
        table-global watermark) — both fall back to the serial lock in
        FlussTable.upsert. Unlike the serial path, AQE is left at the
        session setting (toggling a session conf is not thread-safe).

        `_pre_lock_hook` is a test seam: called after the staged write,
        before the lock — where a concurrent commit would interleave.
        """
        if any(f.auto_increment for f in self.schema.fields):
            raise ValueError(
                "optimistic commits are not supported on auto-increment "
                "tables (the id counter is table-global)"
            )
        if self._defer_commits() > 1:
            raise ValueError(
                "optimistic commits require eager materialization "
                "(table.snapshot.defer-commits <= 1)"
            )
        ts = _commit_ts(commit_ts_ms)
        reason = "conflict"
        for _attempt in range(max(0, int(max_retries)) + 1):
            try:
                return self._transaction(
                    [df], ordering, [ts], batch_buckets, partial_update_cols,
                    merge_mode, pre_lock=_pre_lock_hook or (lambda: None),
                )[-1]
            except CommitConflictError as e:
                reason = str(e)
        raise CommitConflictError(
            f"optimistic commit on {self.db}.{self.table} gave up after "
            f"{max_retries} retries: {reason}"
        )

    def _transaction(
        self,
        dfs: list[DataFrame],
        ordering: list[str] | None,
        ts_list: list[int],
        batch_buckets: list[int] | None,
        partial_update_cols: list[str] | None = None,
        merge_mode: str | None = None,
        pre_lock=None,
    ) -> list[CommitState]:
        """The one PK commit transaction behind upsert, upsert_many and
        upsert_optimistic: validate the batches, fold them (_fold), then
        write and publish one commit version per batch (_commit).

        Serial (`pre_lock` None): the caller holds the table write lock
        end to end. Optimistic (`pre_lock` a callable): the fold and the
        write run unlocked against a base state and _commit validates
        under a short lock, raising CommitConflictError when a
        concurrent commit touched this batch's units.

        With `table.snapshot.defer-commits` = K > 1 the commit is
        WAL-ONLY (the RocksDB model: the write path absorbs puts, a
        periodic checkpoint materializes — server/kv/snapshot/) and
        every K-th commit folds the accumulated tail into the snapshot
        via materialize(); reads stay exact throughout because
        snapshot() merges the uncovered tail on top."""
        spark = dfs[0].sparkSession
        schema = self.schema
        if partial_update_cols is not None:
            missing_pk = [c for c in schema.primary_key if c not in partial_update_cols]
            if missing_pk:
                raise ValueError(f"partial update must include the primary key, missing {missing_pk}")

        # M10: auto-increment columns are engine-assigned surrogate ids —
        # a caller may neither supply values for them (the batch frame's
        # columns ARE the write's target columns; the reference client
        # rejects auto-inc among targets, UpsertWriterImpl.sanityCheck
        # :107-152) nor name them as partial-update targets (server-side
        # PerSchemaAutoIncrementUpdater.validateTargetColumns:101-127).
        auto_cols = [f.name for f in schema.fields if f.auto_increment]
        supplied = [c for c in auto_cols if any(c in d.columns for d in dfs)]
        if supplied:
            raise ValueError(
                f"explicitly specifying values for auto-increment "
                f"column(s) {supplied} is not allowed — drop them from "
                "the batch; the engine assigns ids at key insert"
            )
        bad_targets = [c for c in auto_cols if partial_update_cols and c in partial_update_cols]
        if bad_targets:
            raise ValueError(
                f"auto-increment column(s) {bad_targets} must not be "
                "included in partial-update target columns"
            )

        defer = self._defer_commits()
        if defer <= 1 and self._tail_start(
            self.catalog.current_commit(self.db, self.table)
        ) is not None:
            if pre_lock is not None:
                raise ValueError(
                    "optimistic commit refused: a deferred WAL tail is "
                    "pending — materialize() first"
                )
            # defer-commits was lowered/unset while a WAL tail was
            # pending: fold it in BEFORE bucket/pair discovery — the
            # fused commit rewrites only this batch's units and advances
            # snapshot_version, which would otherwise strand the tail's
            # other units behind a "covered" HWM, and pair_keys computed
            # against the stale manifest would miss tail-created pairs
            self._materialize_locked(spark)

        # AQE off around the fold and the write (fold-input discovery
        # job included): every job in here has a fixed shape (tiny
        # discovery aggregate, hash-by-bucket window write) where AQE's
        # stage-by-stage replanning is pure driver latency — A/B at
        # sf0.1: warm commit 1.4s -> 1.0s from the commit action alone.
        # A cadence materialize() below runs a real join and plans under
        # the session setting. The optimistic path leaves AQE alone
        # (toggling a session conf is not thread-safe).
        if pre_lock is None:
            _aqe_off_enter(spark)
        try:
            state0 = self.catalog.current_commit(self.db, self.table)
            changelog = self._fold(
                spark, dfs, ordering, batch_buckets, partial_update_cols,
                merge_mode, wal_only=defer > 1,
            )
            states = self._commit(spark, changelog, ts_list, state0, pre_lock)
        finally:
            if pre_lock is None:
                _aqe_off_exit(spark)
        last = states[-1]
        if defer > 1 and (
            last.version - max(last.snapshot_version, 0) >= defer
            or self._tail_bytes_exceeded(last)
        ):
            states[-1] = self._materialize_locked(spark)
        return states

    def _occ_conflict(
        self, state0: CommitState, s1: CommitState, combined: str
    ) -> str | None:
        """Validation step of the optimistic commit: None if the staged
        transaction (built against state0) may publish on top of s1,
        else the human-readable conflict reason. The unit of conflict is
        the snapshot-rewrite unit — the (partition path, bucket) pair on
        partitioned tables, the bucket otherwise: a unit is compatible
        iff its manifest entry is IDENTICAL at both states (concurrent
        commits to other units never touch it; compaction/rebucket/
        expiry rewrite entries and thus conflict, conservatively).
        Unpartitioned buckets additionally require an unmoved log HWM
        (bucket == unit there, so any WAL advance implies the unit was
        touched — belt and braces); partitioned tables tolerate HWM
        moves, which _occ_shift_offsets rebases."""
        if s1.version == state0.version:
            return None
        if self.catalog.get_schema(self.db, self.table).to_json() != self.schema.to_json():
            return "table schema changed"
        if s1.log_floor != state0.log_floor:
            return "log floor advanced (whole-log rewrite)"
        if self._tail_start(s1) is not None:
            return "a deferred WAL tail is pending"
        units: set = set()
        for dest in ("w", "s"):
            part = os.path.join(combined, f"{DEST_COL}={dest}")
            if os.path.isdir(part):
                units.update(self._walk_pairs(part))
        m0 = self._manifest(state0.snapshot_version) or {}
        m1 = self._manifest(s1.snapshot_version) or {}
        if self.schema.partition_keys:
            for u in sorted(units):
                if m0.get(u) != m1.get(u):
                    return f"snapshot unit {u} was rewritten by a concurrent commit"
        else:
            for _pp, b in sorted(units):
                if m0.get(b) != m1.get(b):
                    return f"bucket {b} was rewritten by a concurrent commit"
                if s1.log_hwm.get(str(b)) != state0.log_hwm.get(str(b)):
                    return f"bucket {b} log advanced under a concurrent commit"
        return None

    def _occ_shift_offsets(
        self, spark: SparkSession, combined: str, state0: CommitState, s1: CommitState
    ) -> None:
        """Rebase the staged WAL's per-bucket offsets from state0's HWMs
        to s1's. A pair-disjoint concurrent commit can still append to
        the same BUCKET (the offset space is per bucket, shared across
        partitions), leaving our staged offsets starting below the new
        HWM; shifting each contended bucket dir up by the concurrent
        rows' count restores dense per-bucket numbering with the earlier
        committer's rows first — the same order a per-bucket leader
        would have produced. One small rewrite job per contended bucket
        dir, O(this batch's contended buckets); nothing moves when
        bucket sets are disjoint."""
        deltas = {
            int(b): int(off) - int(state0.log_hwm.get(b, 0))
            for b, off in s1.log_hwm.items()
            if int(off) != int(state0.log_hwm.get(b, 0))
        }
        wal_part = os.path.join(combined, f"{DEST_COL}=w")
        if not deltas or not os.path.isdir(wal_part):
            return
        codec = self.schema.properties.get("table.log.compression", "snappy")
        for pp, b in self._walk_pairs(wal_part):
            d = deltas.get(b)
            if not d:
                continue
            bdir = os.path.join(wal_part, pp, f"{BUCKET_COL}={b}") if pp else os.path.join(
                wal_part, f"{BUCKET_COL}={b}"
            )
            # dot-prefixed sibling: invisible to directory walks (never
            # mistaken for a bucket dir if a failure strands it)
            tmp = os.path.join(os.path.dirname(bdir), f".shift-{b}")
            (
                spark.read.parquet(bdir)
                .withColumn(OFFSET_COL, (F.col(OFFSET_COL) + F.lit(int(d))).cast("long"))
                .write.mode("overwrite")
                .option("compression", codec)
                .parquet(tmp)
            )
            fsops.replace_dir(tmp, bdir)

    def _discover_scope(self, pairs: set, manifest_now, tz: str):
        """Batch write scope — (bucket list, typed pair predicate,
        manifest pair keys) — from the batch's distinct (partition
        values, bucket) pairs (see _fold_input_sql)."""
        batch_buckets = sorted({b for _pv, b in pairs})
        pcols = self.schema.partition_keys
        if not pcols or not 0 < len(pairs) <= PAIR_SCOPE_MAX:
            return batch_buckets, None, None
        pair_pred = reduce(
            lambda a, c: a | c,
            [
                reduce(
                    lambda a, c: a & c,
                    [F.col(p) == F.lit(v) for p, v in zip(pcols, pv)],
                )
                & (F.col(BUCKET_COL) == b)
                for pv, b in sorted(pairs, key=repr)
            ],
        )
        # exact manifest-key pruning: parse each candidate entry's
        # partpath back to typed values (never construct paths) and keep
        # only entries matching a batch pair — the prior feed's PLAN then
        # holds O(batch pairs) dirs, not every dir holding those buckets.
        # Both sides compare as Spark's `=` in pair_pred does; entries
        # whose partpath does not parse are kept conservatively.
        types = {f.name: parse_type(f.type) for f in self.schema.fields}
        want = {
            _partition_key(to_internal(v, types[p], tz) for p, v in zip(pcols, pv)) + (b,)
            for pv, b in pairs
        }
        bset = set(batch_buckets)
        pair_keys = []
        for pp, bkt in manifest_now or {}:
            if bkt not in bset:
                continue
            parsed = self._parsed_partpath(pp, tz)
            if parsed is None or parsed + (bkt,) in want:
                pair_keys.append((pp, bkt))
        return batch_buckets, pair_pred, pair_keys

    def _sql_fold_ok(
        self,
        df: DataFrame,
        partial_update_cols: list[str] | None,
        merge_mode: str | None,
    ) -> bool:
        """Gate for the SQL fold emit (see _fold): it covers the default
        merge engine (the dominant commit shape — every bulk load and
        plain upsert). Everything else — partial updates (their delete
        probe + replay_exact dispatch), non-default merge engines,
        DELETE-disabled tables whose batch could carry deletes (replay
        runs the presence probe and raises) — folds the same input
        through replay()."""
        schema = self.schema
        if partial_update_cols is not None:
            return False
        if merge_mode not in (None, "overwrite"):
            return False
        engine = "default" if merge_mode == "overwrite" else schema.merge_engine
        if engine != "default":
            return False
        if schema.delete_behavior == "disable" and OP_COL in df.columns:
            return False
        return schema.changelog_image in ("full", "wal")

    def _fold_input_sql(
        self,
        spark: SparkSession,
        dfs: list[DataFrame],
        ordering: list[str] | None,
        known_buckets: list[int] | None,
        fold_cols=None,
    ) -> tuple[str, dict[str, DataFrame], str]:
        """The ONE fold input of every PK commit, as a SQL statement over
        named frames: seed ∪ batches → REPARTITION(exchange_width,
        __bucket) → per-key `__seq`. Returns (sql, frames for
        spark.sql, fold order — the ORDER BY of the key window, which the
        fold reuses so it shares the one sort).

        `fold_cols(order)` names more columns of the same select, over
        the key window `PARTITION BY __bucket, pk ORDER BY <order>`: the
        SQL fold computes its state there, so one Window operator both
        numbers and folds each key.

        The seed is the WHOLE bounded snapshot (every row of the
        batches' buckets, or (partition, bucket) pairs): untouched
        keys' rows are exactly the rows the snapshot rewrite must feed
        anyway, so they ride the fold (each re-emitted as its own
        snapshot image) instead of a second scan. `__bucket` is computed
        in both union branches and the transaction's ONE exchange is
        established here: every downstream window — the __seq
        numbering, the fold, the commit's offset / touched-unit /
        id-carry windows — partitions by __bucket[, pk] (bucket =
        pmod(hash(pk), n) is a function of the pk), so the whole
        transaction is scan → ONE exchange → windows → write.

        The write scope (which buckets the seed reads) is skipped on a
        table with no state yet, taken from a caller-known superset, or
        discovered from the batches' CAST key and partition columns:
        when every batch is a local relation (pandas- and Arrow-built
        frames) those are collected with no Spark job and routed with
        bucketing.bucket_of; other frames run one map-side collect_set
        job.

        Under deferred materialization the state may live partly (or,
        before the first materialization, entirely) in the WAL tail —
        the hybrid snapshot() serves it, so "has state" considers the
        tail, not just the manifest.

        With several batches (group commit, see upsert_many) each batch
        is projected with its index as `__grp` (seed rows -1) and
        per-batch `__seq` restarts at 1 (PARTITION BY ..., __grp); the
        fold orders by (__grp, <seq order>), so the per-key frames are
        exactly the concatenation of N sequential folds. With a single
        batch there is no `__grp` anywhere in the SQL."""
        schema = self.schema
        pk, cols = schema.primary_key, schema.data_columns()
        grouped = len(dfs) > 1
        ord_names = list(ordering) if ordering else ["__arrival"]
        ord_extra = [c for c in ord_names if c not in cols]
        ftype = {f.name: f.type for f in schema.fields}

        def _cast_sql_for(d: DataFrame) -> dict[str, str]:
            # parse_type().simpleString() = Spark-SQL DDL (the schema's
            # own type strings are engine DDL — e.g. BYTES — which CAST
            # rejects); a column missing from the batch folds as NULL
            have = set(d.columns)
            return {
                c: (
                    f"CAST(`{c}` AS {parse_type(ftype[c]).simpleString()})"
                    if c in have
                    else f"CAST(NULL AS {parse_type(ftype[c]).simpleString()})"
                )
                for c in cols
            }

        cast_sqls = [_cast_sql_for(d) for d in dfs]

        # batch projection: every data column, __op, the seed flag, the
        # ordering columns (__arrival numbered inline) and __bucket
        def _bproj_for(d: DataFrame, cast_sql: dict[str, str], g: int) -> list[str]:
            bproj = [f"{cast_sql[c]} AS `{c}`" for c in cols]
            bproj.append(
                f"`{OP_COL}`" if OP_COL in d.columns else f"'U' AS `{OP_COL}`"
            )
            bproj.append(f"0 AS `{SEED_COL}`")
            for c in ord_extra:
                bproj.append(
                    "monotonically_increasing_id() AS `__arrival`"
                    if c == "__arrival"
                    else f"`{c}`"
                )
            keys_sql = ", ".join(cast_sql[c] for c in schema.bucket_keys)
            bproj.append(
                f"CAST(pmod(hash({keys_sql}), {schema.num_buckets}) AS INT)"
                f" AS `{BUCKET_COL}`"
            )
            if grouped:
                bproj.append(f"CAST({g} AS INT) AS `{GRP_COL}`")
            return bproj

        # write scope: the union of all batches' (partition, bucket)
        # pairs bounds the seed; without it every commit would shuffle
        # O(table)
        state_now = self.catalog.current_commit(self.db, self.table)
        manifest_now = self._manifest(state_now.snapshot_version)
        has_snapshot = (
            bool(manifest_now) or self._tail_start(state_now) is not None
        )
        pair_pred = None
        pair_keys = None
        if not has_snapshot:
            batch_buckets = []
        elif known_buckets is not None:
            batch_buckets = [int(x) for x in known_buckets]
        else:
            pcols = list(schema.partition_keys)
            disc_cols = list(dict.fromkeys(list(schema.bucket_keys) + pcols))
            keys = [
                d.selectExpr(*[f"{cs[c]} AS `{c}`" for c in disc_cols])
                for d, cs in zip(dfs, cast_sqls)
            ]
            tz = spark.conf.get("spark.sql.session.timeZone")
            if all(d.isLocal() for d in dfs):
                # a projection of a local relation collects with no job
                btypes = [parse_type(ftype[c]) for c in schema.bucket_keys]
                pairs = {
                    (
                        tuple(r[p] for p in pcols),
                        bucket_of(
                            [r[c] for c in schema.bucket_keys], btypes,
                            schema.num_buckets, tz,
                        ),
                    )
                    for k in keys
                    for r in k.collect()
                }
            else:
                # collect_set, not distinct().collect(): the map-side
                # partial aggregation reduces each scan partition to one
                # <=pairs set, so the job is a single 1-reducer stage
                rows = (
                    reduce(DataFrame.unionByName, keys)
                    .select(
                        F.collect_set(
                            F.struct(*pcols, self._bucket_expr().alias("__b"))
                        ).alias("ps")
                    )
                    .first()["ps"]
                )
                pairs = {(tuple(r[p] for p in pcols), int(r["__b"])) for r in rows}
            batch_buckets, pair_pred, pair_keys = self._discover_scope(
                pairs, manifest_now, tz
            )

        bounded = self.snapshot(
            spark, buckets=batch_buckets, pair_pred=pair_pred, pair_keys=pair_keys
        )

        # seed projection — column-for-column the batch projection's
        # order (UNION ALL aligns by position)
        df_types = dict(dfs[0].dtypes)
        sproj = (
            [f"`{c}`" for c in cols]
            + [f"'U' AS `{OP_COL}`", f"1 AS `{SEED_COL}`"]
            + [
                f"CAST(NULL AS {'bigint' if c == '__arrival' else df_types.get(c, 'bigint')}) AS `{c}`"
                for c in ord_extra
            ]
            + [f"{self._bucket_sql()} AS `{BUCKET_COL}`"]
            + ([f"CAST(-1 AS INT) AS `{GRP_COL}`"] if grouped else [])
        )

        def _ph(g: int) -> str:
            return "batch" if not grouped else f"b{g}"

        union_sql = f"SELECT {', '.join(sproj)} FROM {{snap}}" + "".join(
            f" UNION ALL SELECT {', '.join(_bproj_for(d, cs, g))} FROM {{{_ph(g)}}}"
            for g, (d, cs) in enumerate(zip(dfs, cast_sqls))
        )
        # the transaction's ONE exchange, sized by exchange_width (same
        # node as DataFrame.repartition(n, __bucket)); the buckets are
        # known unless this is the table's first commit
        width = exchange_width(
            spark, schema.num_buckets, batch_buckets if has_snapshot else None
        )
        repart_sql = (
            f"SELECT /*+ REPARTITION({width}, `{BUCKET_COL}`) */ *"
            f" FROM ({union_sql})"
        )
        # __seq inside the fold's own exchange: seed first (SEED desc),
        # then batch rows in `ordering` order, numbered 1.. per key
        # whether or not a seed row exists (row_number minus the first
        # row's seed flag); the seed row itself gets 0. Under group
        # commit the numbering partition additionally keys on __grp, so
        # each batch's rows restart at 1 per key — the sequential
        # commits' numbering exactly. The ordering columns ride on: the
        # fold orders by the same spec, so it reuses this window's sort
        # (and, for a single batch, is this very window).
        key_sql = ", ".join([f"`{BUCKET_COL}`"] + [f"`{c}`" for c in pk])
        ord_sql = ", ".join(
            [f"`{SEED_COL}` DESC"] + [f"`{c}` ASC NULLS FIRST" for c in ord_names]
        )
        seq_over = (
            f"PARTITION BY {key_sql}, `{GRP_COL}` ORDER BY {ord_sql}"
            if grouped
            else f"PARTITION BY {key_sql} ORDER BY {ord_sql}"
        )
        fold_order = f"`{GRP_COL}`, {ord_sql}" if grouped else ord_sql
        select = [
            "*",
            f"CAST(row_number() OVER ({seq_over}) - first_value(`{SEED_COL}`) "
            f"OVER ({seq_over}) AS BIGINT) AS `{SEQ_COL}`",
            *(fold_cols(fold_order) if fold_cols else []),
        ]
        fold_sql = f"SELECT {', '.join(select)} FROM ({repart_sql})"
        frames = {"snap": bounded}
        frames.update({_ph(g): d for g, d in enumerate(dfs)})
        return fold_sql, frames, fold_order

    def _fold(
        self,
        spark: SparkSession,
        dfs: list[DataFrame],
        ordering: list[str] | None,
        known_buckets: list[int] | None,
        partial_update_cols: list[str] | None = None,
        merge_mode: str | None = None,
        wal_only: bool = False,
    ) -> DataFrame:
        """Fold the batches over their seed into the commit's one row
        stream, the input contract of _commit_plan: change events
        (`__dest` 'w') and, unless `wal_only`, each key's snapshot image
        (`__dest` 's': the state after its last row — the seed row
        itself when no batch row touched the key — with a NULL change
        type); auto-increment tables also keep every seed row as an id
        anchor (`__dest` NULL). Rows carry `__bucket` (and `__grp` for a
        group) and are hash-partitioned by __bucket.

        Both fold shapes read the one input of _fold_input_sql. The
        default merge engine folds and emits in the SAME statement (for
        driver latency: one JVM analysis of nested subqueries instead
        of one per plan layer): the per-key state (`__cur`, lagged
        `__prev` / `__prev_present`, `__last`) comes from the window
        that numbers `__seq` — one sort, one Window operator for a
        single batch — and one generator emits events and images
        together, from the expression strings replay()'s default engine
        uses (shared builders in operators/replay.py;
        tests/test_commit_equivalence.py pins equal commit artifacts).
        Every other shape runs replay() over `spark.sql(<fold input>)`."""
        from fluss_spark.operators.replay import (
            EMIT_WHERE,
            default_fold_select_list,
            emit_select_list,
            wal_image_ct_case_sql,
            wal_image_where_sql,
        )

        schema = self.schema
        cols = schema.data_columns()
        grouped = len(dfs) > 1
        may_have_deletes = any(OP_COL in d.columns for d in dfs)
        if not all(self._sql_fold_ok(d, partial_update_cols, merge_mode) for d in dfs):
            assert not grouped, "group commit requires the SQL fold"
            fold_sql, frames, fold_order = self._fold_input_sql(
                spark, dfs, ordering, known_buckets
            )
            changelog, _ = replay(
                spark.sql(fold_sql, **frames),
                schema,
                partial_update_cols=partial_update_cols,
                merge_mode=merge_mode,
                may_have_deletes=may_have_deletes,
                cluster_cols=[BUCKET_COL],
                images=not wal_only,
                seq_order=fold_order,
            )
            return changelog

        def state_cols(order: str) -> list[str]:
            over = f"PARTITION BY `{BUCKET_COL}`, " + ", ".join(
                f"`{c}`" for c in schema.primary_key
            ) + f" ORDER BY {order}"
            return default_fold_select_list(cols, over)

        # DeleteBehavior.IGNORE drops -D rows between the numbering and
        # the fold state (same placement as replay()'s filter), so its
        # state is a second window layer over the same sort
        ignore = schema.delete_behavior == "ignore" and may_have_deletes
        d_sql, frames, fold_order = self._fold_input_sql(
            spark, dfs, ordering, known_buckets, None if ignore else state_cols
        )
        if ignore:
            d_sql = (
                f"SELECT *, {', '.join(state_cols(fold_order))} FROM ({d_sql})"
                f" WHERE `{OP_COL}` != 'D' OR `{SEED_COL}` = 1"
            )
        has_autoinc = any(f.auto_increment for f in schema.fields)
        emit = emit_select_list(
            cols, "__cur", "__prev", "__prev_present", "true",
            [BUCKET_COL] + ([GRP_COL] if grouped else []),
            images=not wal_only, anchors=has_autoinc,
        )
        emit_sql = f"SELECT {', '.join(emit)} FROM ({d_sql})"
        final_sql = f"SELECT * FROM ({emit_sql}) WHERE {EMIT_WHERE}"
        if schema.changelog_image == "wal":
            # +I -> +U rewrite gates exactly like replay()'s
            # _apply_changelog_image: default merge engine (the SCHEMA's
            # engine — an overwrite batch to a non-default-engine table
            # folds as last-write-wins but keeps +I, KvTablet semantics)
            # and no auto-increment columns.
            ct = (
                wal_image_ct_case_sql()
                if schema.merge_engine == "default" and not has_autoinc
                else f"`{CHANGE_TYPE_COL}`"
            )
            final_sql = (
                f"SELECT `{SEQ_COL}`, `{BUCKET_COL}`, "
                + (f"`{GRP_COL}`, " if grouped else "")
                + f"`{SUB_COL}`, "
                f"{ct} AS `{CHANGE_TYPE_COL}`, "
                + ", ".join(f"`{c}`" for c in cols)
                + f", `{DEST_COL}`"
                f" FROM ({emit_sql}) WHERE {EMIT_WHERE} AND {wal_image_where_sql(True)}"
            )
        return spark.sql(final_sql, **frames)

    def _tail_dirs(self, state: CommitState) -> list[str]:
        """The log commit dirs the materialized snapshot does not cover:
        versions above snapshot_version are wholly uncovered (a
        materialization at M records the full HWM at M)."""
        local, remote = self.log.committed_dirs()
        return [
            path
            for name, path in list(remote.items()) + list(local.items())
            if int(name.split("=")[1]) > state.snapshot_version
        ]

    def _tail_bytes_exceeded(self, state: CommitState) -> bool:
        """table.snapshot.defer-max-tail-bytes: a size threshold that
        triggers materialization before the commit cadence does — bounds
        the tail-fold cost of every read/seed between checkpoints on
        tables with large batches (the same role RocksDB's memtable
        size trigger plays next to its count trigger). Driver-side
        os.walk over the uncovered commit dirs: O(tail files), no jobs."""
        prop = self.schema.properties.get("table.snapshot.defer-max-tail-bytes")
        if not prop:
            return False
        limit = int(prop)
        total = 0
        for path in self._tail_dirs(state):
            for r, _d, files in os.walk(path):
                for fn in files:
                    total += os.path.getsize(os.path.join(r, fn))
                    if total > limit:
                        return True
        return False

    def materialize(self, spark: SparkSession) -> CommitState:
        """Fold the WAL tail into the snapshot now, under the table write
        lock: the units the tail touched are rewritten and published
        through _rewrite_units (see _materialize_locked)."""
        with self.catalog.write_lock(self.db, self.table):
            return self._materialize_locked(spark)

    def _materialize_locked(self, spark: SparkSession) -> CommitState:
        """Fold the WAL tail into the materialized snapshot — the
        periodic-checkpoint half of the deferred-commit mode (reference
        analog: server/kv/snapshot/'s RocksDB checkpoint upload). Only
        the units (buckets, or (partition, bucket) pairs) the tail
        touched are rewritten — discovered DRIVER-SIDE from the
        uncovered tail dirs' names (zero Spark jobs for discovery); their
        rows are the hybrid snapshot() bounded to those units, written
        and published through _rewrite_units, and every other unit
        keeps its old manifest entry as untouched bytes. Commits a new
        version with no WAL dir (the same sparse-version shape log
        compaction uses). Amortization is the point: K deferred commits
        spraying keys over P units cost ONE rewrite of each touched unit
        instead of K.

        Crash-safe: the data dir and manifest are numbered above CURRENT,
        so they stay invisible until meta/CURRENT advances; a crash in
        between leaves orphans the next lock acquisition sweeps. The
        caller holds the table write lock."""
        pcols = self.schema.partition_keys
        state = self.catalog.current_commit(self.db, self.table)
        if self._tail_start(state) is None:
            return state
        version = state.version + 1
        touched = {pair for path in self._tail_dirs(state) for pair in self._walk_pairs(path)}
        buckets = sorted({b for _pp, b in touched})

        # bound the read to the touched units (same pair predicate +
        # manifest-key pruning shapes the upsert seed uses)
        pair_pred = None
        pair_keys = None
        if pcols and 0 < len(touched) <= PAIR_SCOPE_MAX:
            pair_pred = reduce(
                lambda a, c: a | c,
                [
                    self._partpath_filter(pp) & (F.col(BUCKET_COL) == int(b))
                    for pp, b in sorted(touched)
                ],
            )
            pair_keys = [k for k in self._manifest(state.snapshot_version) or {} if k in touched]
        frame = self.snapshot(spark, buckets=buckets, pair_pred=pair_pred, pair_keys=pair_keys)
        self._rewrite_units(spark, frame, version, touched if pcols else set(buckets))
        new_state = replace(
            state, version=version, snapshot_version=version, ts_ms=int(time.time() * 1000)
        )
        self.catalog.commit(self.db, self.table, new_state)
        return new_state

    def _commit(
        self,
        spark: SparkSession,
        changelog: DataFrame,
        ts_list: list[int],
        state0: CommitState,
        pre_lock=None,
    ) -> list[CommitState]:
        """Write and publish a _fold changelog as len(ts_list) commit
        versions on top of state0: ONE write action of the fused commit
        frame (_commit_plan), then _commit_finish. A deferred table
        writes and publishes the WAL only.

        Optimistic (`pre_lock` a callable, see upsert_optimistic): the
        write goes to a uniquely-named inflight dir outside the lock;
        `pre_lock` runs, then under the lock the staged units are
        validated against the current state (CommitConflictError on a
        conflict), contended bucket offsets rebased, and the commit
        published on top of the CURRENT state."""
        import uuid

        wal_only = self._defer_commits() > 1
        out, persisted, auto_next = self._commit_plan(
            changelog, ts_list, state0, wal_only
        )
        name = (
            f"commit-v{state0.version + 1}"
            if pre_lock is None
            else f"inflight-{uuid.uuid4().hex[:12]}"
        )
        combined = os.path.join(self.log.tmp_dir, name)
        try:
            self._write_combined(out, combined, persisted, grouped=len(ts_list) > 1)
            if pre_lock is None:
                return self._commit_finish(
                    spark, combined, state0, ts_list, auto_next, wal_only
                )
            pre_lock()
            with self.catalog.write_lock(self.db, self.table):
                s1 = self.catalog.current_commit(self.db, self.table)
                reason = self._occ_conflict(state0, s1, combined)
                if reason is not None:
                    raise CommitConflictError(reason)
                self._occ_shift_offsets(spark, combined, state0, s1)
                return self._commit_finish(
                    spark, combined, s1, ts_list, dict(s1.auto_increment)
                )
        finally:
            fsops.remove(combined)

    def _commit_plan(
        self,
        changelog: DataFrame,
        ts_list: list[int],
        state0: CommitState,
        wal_only: bool = False,
    ):
        """The fused commit-output frame: one write action produces the
        WAL and the snapshot as sibling partition dirs (__dest=w /
        __dest=s). The fold (_fold) already routed every row — change
        events 'w', each key's snapshot image 's' — so this plan only
        stamps the WAL system columns, in one bucket-window pass:

          - rows arrive hash-partitioned by bucket from the fold's one
            exchange; the images are the fold's seed and state, bounded
            to the batch's buckets — O(touched buckets), never O(table);
          - one window over (bucket) ordered (seq, sub, pk) assigns
            per-bucket WAL offsets (running event count + old HWM), so
            offset order within a bucket IS batch-arrival order across
            keys, matching the reference WAL (LogTablet.java appends in
            arrival order) and the two-pass baseline;
          - an image is written only in a unit that saw >=1 event (a
            max-over-unit window on the same sort): untouched units keep
            their old manifest entry and cost no I/O.

        The snapshot-rewrite unit is the bucket, or the (partition,
        bucket) pair on partitioned tables, whose partition dirs sit
        ABOVE the bucket dirs on BOTH siblings (the reference's
        metadata/TableBucket.java layering).

        Auto-increment ids are stamped INSIDE the commit window with the
        reference's insert-stable semantics (ids assigned only in
        applyInsert, KvTablet.java:763-775): the fold is persisted, one
        tiny count job packs per-bucket id segments gap-free in bucket
        order from the +I counts (AutoIncrementManager's
        BoundedSegmentSequenceGenerator model), each +I event mints
        segment_base[bucket] + its running insert count, and every other
        row of the key CARRIES the key's current id via a last-non-null
        window anchored on the +I stamp and the seed row's stored value.

        Images carry NULL WAL system columns (_change_type, __seq, __sub,
        __offset, __timestamp): real values would bloat every snapshot
        file and leak into lake-export schemas built from footers. The
        commit timestamps and offset bases enter as map literals, which
        generated code holds as reference objects: a commit compiles no
        new class for its own values.

        Built against a given base state from a _fold output (which
        carries `__bucket` and is hash-partitioned by it), so this plan
        adds NO exchange, no second snapshot scan and no bucket
        recomputation. One timestamp per batch in `ts_list`; several
        mean a group (the rows carry `__grp`). Returns (out frame,
        persisted handle to unpersist after the write, advanced
        auto-increment map). Pure plan construction — no writes, no
        metadata mutation — so the optimistic path can run it (and the
        write) outside the table lock."""
        schema = self.schema
        pk, cols = schema.primary_key, schema.data_columns()
        grouped = len(ts_list) > 1

        # Everything below builds the plan from WHOLE-SELECT SQL strings
        # (selectExpr / one JVM parse each) instead of per-column Column
        # calls: profiling showed ~2.9k py4j round trips (~1s of driver
        # wall) per commit, dominated by expression construction.
        # Spark-SQL DDL type strings (the schema's own are engine DDL)
        declared = {f.name: parse_type(f.type).simpleString() for f in schema.fields}

        # M10: pre-assign per-bucket id segments driver-side, sized by
        # the bucket's INSERT (+I) count only — an id is minted once per
        # inserted KEY and stays with the row for life (the reference
        # assigns ids only in applyInsert, KvTablet.java:763-775; updates
        # never regenerate them). The fold is persisted first so the
        # count job and the write action see the SAME evaluated rows
        # (the fold order can be non-deterministic when no explicit
        # ordering was given — without the barrier the two jobs could
        # disagree on per-bucket insert counts and the ids would gap or
        # collide).
        auto_cols = [f.name for f in schema.fields if f.auto_increment]
        auto_next = dict(state0.auto_increment)
        persisted = None
        id_expr: dict[str, str] = {}
        if auto_cols:
            persisted = changelog.persist()
            changelog = persisted
            bucket_counts = sorted(
                (int(r["b"]), r["cnt"])
                for r in changelog.filter(
                    F.col(CHANGE_TYPE_COL) == INSERT
                )
                .selectExpr(f"`{BUCKET_COL}` AS b")
                .groupBy("b")
                .agg(F.count("*").alias("cnt"))
                .collect()
            )
            for c in auto_cols:
                base_id, seg = auto_next.get(c, 0), {}
                acc = base_id
                for bkt, cnt in bucket_counts:
                    seg[bkt] = acc
                    acc += cnt
                auto_next[c] = acc
                # a bucket outside the map has no +I row to mint for
                id_expr[c] = _keyed_literal(
                    {b: f"CAST({s} AS BIGINT)" for b, s in seg.items()},
                    BUCKET_COL, "CAST(NULL AS BIGINT)",
                )

        ev = changelog.selectExpr(
            *[f"CAST(`{c}` AS {declared[c]}) AS `{c}`" for c in cols],
            f"`{CHANGE_TYPE_COL}`",
            f"CAST(`{SEQ_COL}` AS BIGINT) AS `{SEQ_COL}`",
            f"CAST(`{SUB_COL}` AS INT) AS `{SUB_COL}`",
            f"`{DEST_COL}`",
            f"`{BUCKET_COL}`",
            *([f"`{GRP_COL}`"] if grouped else []),
        )
        pk_sql = ", ".join(f"`{c}`" for c in pk)
        # arrival-order window: offsets follow (seq, sub, pk) — the fold
        # sequence = batch arrival — so cross-key WAL order matches the
        # reference contract and the two-pass baseline exactly. Group commit
        # prefixes the batch index: offsets run batch-major, exactly the
        # cumulative bases N sequential commits would assign. Images and
        # anchors sit in the same order but count no offset.
        grp_ord = f"`{GRP_COL}`, " if grouped else ""
        over = (
            f"PARTITION BY `{BUCKET_COL}` ORDER BY {grp_ord}`{SEQ_COL}`, "
            f"`{SUB_COL}`, {pk_sql}"
        )
        is_event = f"(`{DEST_COL}` = 'w')"

        base_sql = _keyed_literal(
            {int(b): f"CAST({off} AS BIGINT)" for b, off in state0.log_hwm.items()},
            BUCKET_COL, "CAST(0 AS BIGINT)",
        )
        # per-batch commit timestamps (sequential commits stamp each
        # batch at its own commit time); a single commit keys its one
        # timestamp by bucket
        ts_map = (
            {g: f"timestamp_millis({t})" for g, t in enumerate(ts_list)}
            if grouped
            else {b: f"timestamp_millis({ts_list[0]})" for b in range(schema.num_buckets)}
        )
        ts_sql = _keyed_literal(
            ts_map, GRP_COL if grouped else BUCKET_COL, "CAST(NULL AS TIMESTAMP)"
        )
        # running event count in arrival order — feeds the WAL offset
        rc = (
            f"count(CASE WHEN {is_event} THEN 1 END) OVER ({over} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        carried: dict[str, str] = {}
        if id_expr:
            # insert-stable ids (reference M10 semantics): a fresh id is
            # minted only at a +I event — segment base + the bucket's
            # running INSERT count (same arrival order as the offsets).
            # Every other row of the key CARRIES its current id: the
            # anchor column is the stamp on +I rows and the stored value
            # on seed rows (sub -1, sorts first; a batch row's image has
            # no stored id), so a last-non-null over (bucket, pk) in fold
            # order gives -U before-images the id the row really had, +U
            # after-images and the image the same id, and a key
            # re-inserted after an in-batch -D a fresh id (the new +I
            # re-anchors). Staged as a real column: the carry window
            # cannot nest the running-count window.
            ins_rc = (
                f"count(CASE WHEN `{CHANGE_TYPE_COL}` = '{INSERT}' THEN 1 END) "
                f"OVER ({over} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            )
            anchor = [
                f"CASE WHEN `{CHANGE_TYPE_COL}` = '{INSERT}' "
                f"THEN CAST(({id_expr[c]}) + {ins_rc} - 1 AS BIGINT) "
                f"WHEN `{CHANGE_TYPE_COL}` IS NULL THEN CAST(`{c}` AS BIGINT) "
                f"END AS `__id_anchor_{i}`"
                for i, c in enumerate(auto_cols)
            ]
            ev = ev.selectExpr("*", *anchor)
            carry_over = (
                f"PARTITION BY `{BUCKET_COL}`, {pk_sql} ORDER BY `{SEQ_COL}`, "
                f"`{SUB_COL}` ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            )
            for i, c in enumerate(auto_cols):
                carried[c] = f"CAST(last(`__id_anchor_{i}`, true) OVER ({carry_over}) AS BIGINT)"
        ev = ev.selectExpr(
            *[f"{carried[c]} AS `{c}`" if c in carried else f"`{c}`" for c in cols],
            f"`{CHANGE_TYPE_COL}`",
            *[
                f"CASE WHEN {is_event} THEN {v} END AS `{n}`"
                for n, v in (
                    (SEQ_COL, f"`{SEQ_COL}`"),
                    (SUB_COL, f"`{SUB_COL}`"),
                    (OFFSET_COL, f"CAST({rc} - 1 + ({base_sql}) AS BIGINT)"),
                    (TIMESTAMP_COL, ts_sql),
                )
            ],
            # group commit: '__g' routes each WAL row to its batch's
            # commit dir; the images belong to the group's LAST version
            *(
                [f"CASE WHEN {is_event} THEN `{GRP_COL}` ELSE {len(ts_list) - 1} END AS `__g`"]
                if grouped
                else []
            ),
            f"`{DEST_COL}`",
            f"`{BUCKET_COL}`",
        )
        # the snapshot-rewrite unit is the (partition, bucket) PAIR on
        # partitioned tables (reference TableBucket granularity): an
        # image survives into the new dir only if ITS unit saw an event
        # — other partitions of the same bucket stay as untouched bytes
        # behind their old manifest entries. Computed over the offset
        # window's output, so it reuses that sort.
        touched = (
            f"max(CAST({is_event} AS INT)) OVER (PARTITION BY "
            + ", ".join([f"`{BUCKET_COL}`"] + [f"`{c}`" for c in schema.partition_keys])
            + ") = 1"
        )
        keep = is_event if wal_only else f"{is_event} OR (`{DEST_COL}` = 's' AND {touched})"
        out = ev.selectExpr(
            *[f"`{c}`" for c in cols],
            f"`{CHANGE_TYPE_COL}`",
            f"`{SEQ_COL}`",
            f"`{SUB_COL}`",
            f"`{OFFSET_COL}`",
            f"`{TIMESTAMP_COL}`",
            *(["`__g`"] if grouped else []),
            f"CASE WHEN {keep} THEN `{DEST_COL}` END AS `{DEST_COL}`",
            f"`{BUCKET_COL}`",
        ).filter(f"`{DEST_COL}` IS NOT NULL")

        return out, persisted, auto_next

    def _write_combined(
        self, out: DataFrame, combined: str, persisted, grouped: bool = False
    ) -> None:
        """The ONE write action of the fused commit: both siblings land
        under `combined` as __dest=w / __dest=s partition dirs (group
        commit adds a __g=<batch> level so each batch's WAL renames into
        its own commit dir — the '__g' column is stripped into the dir
        name, so file contents stay identical to single commits)."""
        schema = self.schema
        codec = schema.properties.get("table.log.compression", "snappy")  # W6
        # rows left the bucket window hash-clustered by BUCKET_COL, so
        # partitionBy emits one file per (dest[, partition], bucket)
        # without another exchange; partition keys sit ABOVE the bucket
        # in both siblings' dir layout (reference TableBucket layering)
        part_cols = (
            [DEST_COL, "__g", *schema.partition_keys, BUCKET_COL]
            if grouped
            else [DEST_COL, *schema.partition_keys, BUCKET_COL]
        )
        try:
            (
                out.write.mode("overwrite")
                .option("compression", codec)
                .partitionBy(*part_cols)
                .parquet(combined)
            )
        finally:
            if persisted is not None:
                persisted.unpersist()

    def _commit_finish(
        self,
        spark: SparkSession,
        combined: str,
        base_state: CommitState,
        ts_list: list[int],
        auto_next: dict[str, int],
        wal_only: bool = False,
    ) -> list[CommitState]:
        """Publish a written combined dir as len(ts_list) commit versions
        on top of `base_state`: move the siblings into place, advance
        the HWMs and manifest RELATIVE TO base_state, then commit every
        version with one CURRENT write (Catalog.commit). The serial path
        passes base_state = the state the plan was built against; the
        optimistic path passes the CURRENT state after validating the
        plan's base is still compatible with it (disjoint units, see
        upsert_optimistic).

        Every version but the last is a WAL-only state: its WAL moves
        into its commit dir (a group's `__g=<i>` sub-dir) and
        snapshot_version stays at the base — the sparse-version shape
        every read path serves through the offset-bounded tail fold.
        The last version materializes the snapshot of every unit any
        batch touched, unless `wal_only` (deferred materialization)
        keeps it a WAL-only state too. A crash before the commit call
        leaves the table at base_state: a group lands whole or not at
        all."""
        schema = self.schema
        state0 = base_state
        grouped = len(ts_list) > 1
        w_root = os.path.join(combined, f"{DEST_COL}=w")
        snap_part = os.path.join(combined, f"{DEST_COL}=s")
        if grouped:  # the snapshot copy belongs to the group's last batch
            snap_part = os.path.join(snap_part, f"__g={len(ts_list) - 1}")
        hwm = dict(state0.log_hwm)
        # the snapshot-rewrite unit: buckets (unpartitioned) or
        # (partition path, bucket) pairs (partitioned) — both read off
        # the staged WAL's directory names, zero extra jobs; the union
        # over every batch's staged dirs
        touched: set = set()
        states: list[CommitState] = []
        for g, ts_ms in enumerate(ts_list):
            version = state0.version + 1 + g
            last = g == len(ts_list) - 1
            # straight into its log commit dir: numbered above CURRENT,
            # it stays invisible until the commit below advances CURRENT
            wal = self.log.commit_path(version)
            wal_part = os.path.join(w_root, f"__g={g}") if grouped else w_root
            if os.path.isdir(wal_part):
                fsops.replace_dir(wal_part, wal)
            else:  # no change events at all (e.g. deletes of absent keys)
                fsops.makedirs(wal)
            per_bucket = self.log._staged_hwm(spark, wal)
            for bkt, mx in per_bucket.items():
                hwm[str(bkt)] = mx + 1
            if schema.partition_keys:
                touched.update(self._walk_pairs(wal))
            else:
                touched.update(per_bucket)

            snapshot_version = state0.snapshot_version
            if last and not wal_only:
                snapshot_version = version
                # the images of the write action are the new data dir
                # (absent when every key of the touched units was deleted)
                data_dir = self._data_dir(version)
                if os.path.isdir(snap_part):
                    fsops.replace_dir(snap_part, os.path.join(self.snapshot_dir, data_dir))
                self._repoint(version, state0.snapshot_version, data_dir, touched)
            states.append(
                replace(
                    state0,
                    version=version,
                    log_hwm=dict(hwm),
                    snapshot_version=snapshot_version,
                    auto_increment=dict(auto_next if last else state0.auto_increment),
                    ts_ms=ts_ms,
                )
            )
        self.catalog.commit(self.db, self.table, *states)
        return states

    def insert_if_not_exists(self, df: DataFrame, ordering: list[str] | None = None) -> DataFrame:
        """L3 (Lookup.enableInsertIfNotExists, Lookup.java:97-105): a
        probe key with no matching row inserts a STUB row carrying only
        the lookup KEY VALUES — non-key columns stay null (auto-increment
        columns are engine-assigned as usual), exactly the reference's
        'a new row will be inserted with the lookup key values'. Present
        keys are untouched; the return is the current row for every
        probed key. Because the insert carries nothing but the key,
        duplicate probes of one absent key are idempotent — the batch
        collapses them to one stub, identical to what sequential per-probe
        application would leave. Rejected on tables with non-nullable
        columns outside the primary key / auto-increment set (the stub
        could not satisfy them — same validation as the reference).
        `ordering` is accepted for API symmetry with upsert but has no
        effect on the stub fold. One left-anti + one upsert commit."""
        spark = df.sparkSession
        schema, pk = self.schema, self.schema.primary_key
        bad = [
            f.name
            for f in schema.fields
            if not f.nullable and f.name not in pk and not f.auto_increment
        ]
        if bad:
            raise ValueError(
                "insert-if-not-exists requires all columns outside the "
                f"primary key to be nullable (or auto-increment): {bad} "
                "are NOT NULL and a key-only stub row cannot satisfy them"
            )
        keys = df.select(*pk).distinct()
        # persist the anti-join so the presence probe and the upsert seed
        # don't each recompute the snapshot scan; count() (not isEmpty,
        # which stops at the first row and leaves the cache partial)
        # fills the cache completely, so a non-empty probe's upsert folds
        # the CACHED keys instead of re-running the anti-join
        missing = keys.join(
            self.snapshot(spark).select(*pk), on=pk, how="left_anti"
        ).persist()
        try:
            if missing.count():
                self.upsert(missing)
        finally:
            missing.unpersist()
        return self.snapshot(spark).join(keys, on=pk, how="left_semi")

    def _state_from_changelog(self, changelog: DataFrame) -> DataFrame:
        """Replay invariant: the last change event per key IS its state;
        keys ending in -D are gone (SortMergeReader: 'change log wins')."""
        pk, cols = self.schema.primary_key, self.schema.data_columns()
        w = Window.partitionBy(*pk).orderBy(F.col(OFFSET_COL).desc())
        return (
            changelog.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col(CHANGE_TYPE_COL) != DELETE))
            .select(*cols)
        )

    # ------------------------------------------------------------------ #
    # reads (S4/S5/S6, L1/L2, T9)
    # ------------------------------------------------------------------ #
    def snapshot(
        self,
        spark: SparkSession,
        version: int | None = None,
        buckets: list[int] | None = None,
        pair_pred=None,
        pair_keys=None,
    ) -> DataFrame:
        """KV state scan (S4). With `version=None` this is the CURRENT
        state: the materialized snapshot plus — when
        `table.snapshot.defer-commits` left a WAL tail the snapshot does
        not cover — a merge of that tail on top ('change log wins over
        the snapshot', SortMergeReader; zero extra cost when no tail
        exists, which is every table with the default per-commit
        materialization). `version` = time travel (M11 — snapshot-id =
        commit version): an exact manifest version reads its files
        verbatim; a deferred (WAL-only) version folds the offset-bounded
        changelog slice onto the nearest older manifest. `buckets`
        restricts the read to those buckets' files (manifest + partition
        dir pruning — the commit's bounded seed) and bounds the tail
        scan the same way. Partitioned tables: `pair_pred` is a typed predicate
        over the partition columns and __bucket that bounds the physical
        read (Spark partition pruning resolves it to directories, and it
        prunes the tail's WAL dirs identically); `pair_keys` is a set of
        manifest (partpath, bucket) keys that additionally bounds WHICH
        DIRS enter the plan — plan size O(|pair_keys| dirs), not O(all
        dirs holding those buckets)."""
        state = self.catalog.current_commit(self.db, self.table)
        if version is None:
            base = self._materialized(
                spark, state.snapshot_version, buckets, pair_pred, pair_keys
            )
            start = self._tail_start(state)
            if start is None:
                return base
            tail = self._tail_scan(spark, start, None, buckets, pair_pred)
            return self._merge_tail(base, tail)
        if version > state.version:
            raise ValueError(f"no such commit version: {version}")
        if version < 0 or self._manifest(version) is not None:
            return self._materialized(spark, version, buckets, pair_pred, pair_keys)
        # WAL-only (deferred) version: nearest older manifest + the
        # changelog slice between its HWM and this version's HWM
        m = self._nearest_manifest_version(version)
        base = self._materialized(spark, m, buckets, pair_pred, pair_keys)
        start = self.log.hwm_at(m) if m >= 0 else {}
        end = self.log.hwm_at(version)
        if start == end:
            return base
        # retention fence: TTL/expiry may have trimmed changelog inside
        # the slice (legal — those commits were snapshot-covered by a
        # LATER materialization) — folding over the gap would silently
        # return a partial state instead of an error
        expired = {
            b: (start.get(b, 0), e)
            for b, e in self.log.earliest_offsets().items()
            if start.get(b, 0) < e and end.get(b, 0) > start.get(b, 0)
        }
        if expired:
            raise ValueError(
                f"cannot time-travel to deferred version {version}: the "
                f"changelog slice from manifest v{m} was partly expired "
                f"(bucket: (needed-from, earliest) = {expired})"
            )
        # a bucket empty at `version` is absent from its HWM map, which
        # the scan would leave unbounded: bound it at offset 0
        end = {b: 0 for b in range(self.schema.num_buckets)} | end
        tail = self._tail_scan(spark, start, end, buckets, pair_pred)
        return self._merge_tail(base, tail)

    def _tail_start(self, state: CommitState) -> dict[int, int] | None:
        """Start offsets of the WAL tail the materialized snapshot does
        not cover, or None when the snapshot is current. The default
        per-commit materialization keeps snapshot_version == version, so
        this is a no-I/O comparison on that path."""
        if state.snapshot_version == state.version:
            return None
        cur = {int(b): o for b, o in state.log_hwm.items()}
        if state.snapshot_version < 0:
            return {} if cur else None
        snap_hwm = self.log.hwm_at(state.snapshot_version)
        return None if snap_hwm == cur else snap_hwm

    def _nearest_manifest_version(self, version: int) -> int:
        """Greatest manifest version <= `version`, or -1 if none."""
        best = -1
        if os.path.isdir(self.manifest_dir):
            for e in os.scandir(self.manifest_dir):
                if e.name.startswith("v") and e.name.endswith(".json"):
                    v = int(e.name[1:-5])
                    if best < v <= version:
                        best = v
        return best

    def _tail_scan(
        self,
        spark: SparkSession,
        start: dict[int, int],
        end: dict[int, int] | None,
        buckets: list[int] | None,
        pair_pred,
    ) -> DataFrame:
        tail = self.log.scan(spark, start_offsets=start or None, end_offsets=end)
        if pair_pred is not None:
            tail = tail.filter(pair_pred)
        elif buckets is not None:
            in_list = ", ".join(str(int(b)) for b in sorted(buckets)) or "-1"
            tail = tail.filter(f"`{BUCKET_COL}` IN ({in_list})")
        return tail

    def _merge_tail(self, base: DataFrame, tail: DataFrame) -> DataFrame:
        """'Change log wins over the snapshot' (S5/S6 SortMergeReader):
        the tail's last event per key decides; keys whose last event is
        -D disappear; untouched base rows pass through (anti-join on the
        tail's keys — no distinct, a semi/anti join dedups by
        definition)."""
        pk = self.schema.primary_key
        merged = self._state_from_changelog(tail)
        return base.join(tail.select(*pk), on=pk, how="left_anti").unionByName(merged)

    def _materialized(
        self,
        spark: SparkSession,
        version: int,
        buckets: list[int] | None = None,
        pair_pred=None,
        pair_keys=None,
    ) -> DataFrame:
        """The materialized snapshot files at one manifest version —
        no tail merge (the S4 physical read)."""
        from fluss_spark.types import evolution_eras

        manifest = self._manifest(version)
        if not manifest:
            return spark.createDataFrame([], self.schema.to_struct_type())
        if self.schema.partition_keys:
            return self._snapshot_pairs(
                spark, version, manifest, buckets, pair_pred, pair_keys
            )
        wanted = set(manifest) if buckets is None else (set(buckets) & set(manifest))
        if wanted and not evolution_eras(self.schema):
            # leaf-dir fast path: each wanted bucket maps to exactly ONE
            # physical <dir>/__bucket=b subdir, so passing those paths
            # directly yields one relation with path-level pruning —
            # replacing the per-dir IN-filter + union chain (O(dirs)
            # plan nodes rebuilt per commit for the seed/prior feed; the
            # superseded-bucket exclusion is equivalent because a
            # superseded bucket's leaf is simply never listed)
            leaves = [
                os.path.join(self.snapshot_dir, manifest[b], f"{BUCKET_COL}={b}")
                for b in sorted(wanted)
            ]
            if all(os.path.isdir(p) for p in leaves):
                # cached per leaf set (same immutability argument as
                # _read_snapshot_dir): repeat reads of one version —
                # seed + prior feed inside a commit, every post-commit
                # snapshot() of the same table — reuse the
                # resolved relation and its file listing instead of
                # re-analyzing per call
                key = (tuple(leaves), session_key(spark))
                cached = self._dir_cache.get(key)
                if cached is not None:
                    return cached
                ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in self.schema.to_struct_type().fields
                )
                df = spark.read.schema(ddl).parquet(*leaves)
                if len(self._dir_cache) > 256:
                    self._dir_cache.clear()
                self._dir_cache[key] = df
                return df
        by_dir: dict[str, list[int]] = {}
        for bkt in wanted:
            by_dir.setdefault(manifest[bkt], []).append(bkt)
        parts = []
        for data_dir, bkts in sorted(by_dir.items()):
            df = self._read_snapshot_dir(spark, data_dir)
            # partition-dir pruning: this dir may hold older versions of
            # buckets that a newer dir supersedes. SQL-string filter =
            # one py4j round trip (isin(list) converts per element)
            in_list = ", ".join(str(int(b)) for b in sorted(bkts))
            parts.append(df.filter(f"`{BUCKET_COL}` IN ({in_list})"))
        if not parts:
            return spark.createDataFrame([], self.schema.to_struct_type())
        return reduce(lambda a, b: a.unionByName(b), parts).drop(BUCKET_COL)

    def _snapshot_pairs(
        self, spark, version: int, manifest: dict, buckets, pair_pred, pair_keys=None
    ) -> DataFrame:
        """Partitioned snapshot scan over the (partition, bucket)-pair
        manifest. Per referenced dir the read EXCLUDES the dir's
        superseded pairs (pairs the dir was written with that a newer
        dir has since taken over — an anti-filter sized O(pairs
        rewritten since the dir was written), small after compaction)
        instead of enumerating every live pair, so full scans keep
        O(recent-touches) plan size at any partition count."""
        wanted = (
            manifest
            if buckets is None
            else {k: v for k, v in manifest.items() if k[1] in set(buckets)}
        )
        if pair_keys is not None:
            keyset = set(pair_keys)
            wanted = {k: v for k, v in wanted.items() if k in keyset}
        dir_pairs = self._manifest_dir_pairs(version)
        by_dir: dict[str, set] = {}
        for pair, d in wanted.items():
            by_dir.setdefault(d, set()).add(pair)
        parts = []
        for data_dir in sorted(by_dir):
            df = self._read_snapshot_dir(spark, data_dir)
            written = dir_pairs.get(data_dir)
            if written is None:  # no record (defensive): derive physically
                written = self._walk_pairs(os.path.join(self.snapshot_dir, data_dir))
            shadowed = [p for p in written if manifest.get(tuple(p)) != data_dir]
            cond = F.lit(True)
            if buckets is not None:
                bset = sorted({b for _pp, b in by_dir[data_dir]})
                cond = cond & F.expr(
                    f"`{BUCKET_COL}` IN ({', '.join(str(b) for b in bset)})"
                )
            for pp, b in shadowed:
                cond = cond & ~(
                    self._partpath_filter(pp) & (F.col(BUCKET_COL) == int(b))
                )
            if pair_pred is not None:
                cond = cond & pair_pred
            parts.append(df.filter(cond))
        if not parts:
            return spark.createDataFrame([], self.schema.to_struct_type())
        return reduce(lambda a, b: a.unionByName(b), parts).drop(BUCKET_COL)

    def referenced_data_dirs(self, version: int) -> set[str]:
        m = self._manifest(version) or {}
        return set(m.values())

    def minmax_from_metadata(self, column: str, version: int | None = None):
        """A2 statistics for PK tables: (min, max) of a numeric/temporal
        column over the LIVE snapshot, from Parquet footer stats of the
        manifest's bucket dirs — driver-side, zero file reads. Exact
        because snapshot dirs hold exactly the live merged rows (the
        WAL's superseded versions and before-images never appear here —
        the reason LogStore.minmax_from_metadata refuses pk tables).
        Returns None (caller falls back to a snapshot scan) for string
        columns (truncatable stats), schema-evolution eras (physical
        names differ per dir), partition keys, stat-less row groups,
        when no snapshot manifest exists yet, or when deferred
        materialization left a WAL tail the footers don't cover —
        exactness over speed in every case."""
        from fluss_spark.sources.log import footer_minmax
        from fluss_spark.types import evolution_eras

        if evolution_eras(self.schema):
            return None
        if column in self.schema.partition_keys:
            return None
        field = next((f for f in self.schema.fields if f.name == column), None)
        if field is None or field.type.upper() in ("STRING", "VARCHAR", "BYTES", "BINARY"):
            return None
        if version is None:
            state = self.catalog.current_commit(self.db, self.table)
            if self._tail_start(state) is not None:
                return None  # stale footers: the live state includes the tail
            version = state.snapshot_version
        manifest = self._manifest(version)
        if not manifest:
            return None
        # a data dir can physically hold buckets/pairs the CURRENT
        # manifest assigns to a newer dir — walk exactly the units the
        # manifest references, mirroring scan()'s pruning. Partitioned:
        # each (partpath, bucket) entry maps to ONE precise physical
        # subdir, so the footer walk sees only live rows.
        paths = self.manifest_unit_paths(manifest)
        if paths is None:
            return None
        return footer_minmax(paths, column)

    def manifest_unit_paths(self, manifest: dict) -> list[str] | None:
        """Physical dir per manifest unit — {bucket: dir} ->
        dir/__bucket=b; {(partpath, bucket): dir} ->
        dir/partpath/__bucket=b. Returns None if a partitioned entry
        resolves into a flat (non-nested) legacy dir, where live and
        superseded partitions share files and footer-level pruning is
        impossible."""
        paths = []
        if self.schema.partition_keys:
            for (pp, b), d in sorted(manifest.items()):
                sub = os.path.join(self.snapshot_dir, d, pp, f"{BUCKET_COL}={b}")
                if os.path.isdir(sub):
                    paths.append(sub)
                elif os.path.isdir(
                    os.path.join(self.snapshot_dir, d, f"{BUCKET_COL}={b}")
                ):
                    return None  # flat legacy dir: pairs not separable
            return paths
        for b, d in sorted(manifest.items()):
            p = os.path.join(self.snapshot_dir, d, f"{BUCKET_COL}={b}")
            if os.path.isdir(p):
                paths.append(p)
        return paths

    def _snapshot_schema(self, era=None):
        from fluss_spark.types import era_struct_fields

        if era is None:
            fields = list(self.schema.to_struct_type().fields)
        else:  # physical layout of a pre-rename/retype snapshot dir
            fields = era_struct_fields(self.schema, era)
        fields.append(T.StructField(BUCKET_COL, T.IntegerType(), True))
        return T.StructType(fields)

    def _era_for_dir(self, data_dir: str):
        """Era mapping for one snapshot data dir (written at the commit
        version its name carries), or None for the current schema."""
        from fluss_spark.types import era_fields_for_commit, evolution_eras

        eras = evolution_eras(self.schema)
        if not eras:
            return None
        return era_fields_for_commit(eras, int(data_dir.split("-v")[1]))

    def _read_snapshot_dir(self, spark: SparkSession, data_dir: str) -> DataFrame:
        """One snapshot data dir, projected onto the CURRENT schema by
        field id (rename=alias, retype=widening cast). Identity (no
        eras / dir written under the current schema) keeps the exact
        bare-scan plan. The resolved DataFrame is cached per dir (dirs
        are immutable, see __init__) — file listing happens at execution
        time, so the cache saves only driver-side analysis, never
        staleness. The key is the session's `registry.session_key`, not
        id(spark): a new session can reuse a collected one's id, and its
        cached frame would be bound to a dead context."""
        key = (data_dir, session_key(spark))
        cached = self._dir_cache.get(key)
        if cached is not None:
            return cached
        df = self._read_snapshot_dir_uncached(spark, data_dir)
        if len(self._dir_cache) > 256:  # bound: old dirs age out via GC
            self._dir_cache.clear()
        self._dir_cache[key] = df
        return df

    def _read_snapshot_dir_uncached(self, spark: SparkSession, data_dir: str) -> DataFrame:
        era = self._era_for_dir(data_dir)
        # schema as a DDL STRING: StructType.simpleString() is pure
        # Python, so this is ONE py4j round trip; passing the StructType
        # itself converts the tree field-by-field (~15 round trips per
        # read, and the seed probe reads every manifest dir each commit)
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in self._snapshot_schema(era).fields
        )
        df = (
            spark.read.schema(ddl)
            .option("basePath", os.path.join(self.snapshot_dir, data_dir))
            .parquet(os.path.join(self.snapshot_dir, data_dir))
        )
        if era is not None:
            from fluss_spark.types import era_projection

            df = df.select(era_projection(self.schema, era, [BUCKET_COL]))
        elif self.schema.partition_keys:
            # Spark appends partition-DIR columns after the file columns
            # regardless of the user schema's order; restore declared
            # order (snapshot()'s contract is data_columns() order)
            df = df.select(*self.schema.data_columns(), BUCKET_COL)
        return df

    def changelog(self, spark: SparkSession, start_offsets: dict[int, int] | None = None) -> DataFrame:
        """$changelog virtual table (T9): _change_type, _log_offset,
        _commit_timestamp + data columns, in WAL order."""
        from fluss_spark.types import COMMIT_TS_COL, LOG_OFFSET_COL

        df = self.log.scan(spark, start_offsets=start_offsets)
        return df.select(
            *self.schema.data_columns(),
            F.col(CHANGE_TYPE_COL),
            F.col(OFFSET_COL).alias(LOG_OFFSET_COL),
            F.col(TIMESTAMP_COL).alias(COMMIT_TS_COL),
            F.col(BUCKET_COL),
        )

    def binlog(self, spark: SparkSession) -> DataFrame:
        """$binlog virtual table (T9): -U/+U pairs fused into one row of
        (before struct, after struct); +I has null before, -D null after
        (BinlogFlinkTableSource.java:43, TableDescriptor.java:64-70)."""
        pk, cols = self.schema.primary_key, self.schema.data_columns()
        from fluss_spark.types import INSERT, UPDATE_AFTER, UPDATE_BEFORE

        df = self.log.scan(spark)
        row = F.struct(*[F.col(c).alias(c) for c in cols])
        w = Window.partitionBy(BUCKET_COL).orderBy(OFFSET_COL)
        d = (
            df.withColumn("__row", row)
            .withColumn("__next_ct", F.lead(CHANGE_TYPE_COL).over(w))
            .withColumn("__next_row", F.lead("__row").over(w))
            .withColumn("__prev_ct", F.lag(CHANGE_TYPE_COL).over(w))
        )
        # -U followed by its +U becomes one UPDATE row; the +U is dropped
        fused = d.filter(~((F.col(CHANGE_TYPE_COL) == UPDATE_AFTER) & (F.col("__prev_ct") == UPDATE_BEFORE)))
        return fused.select(
            F.when(F.col(CHANGE_TYPE_COL) == INSERT, F.lit("INSERT"))
            .when(F.col(CHANGE_TYPE_COL) == UPDATE_BEFORE, F.lit("UPDATE"))
            .otherwise(F.lit("DELETE"))
            .alias("op_type"),
            F.when(F.col(CHANGE_TYPE_COL) != INSERT, F.col("__row")).alias("before"),
            F.when(F.col(CHANGE_TYPE_COL) == UPDATE_BEFORE, F.col("__next_row"))
            .when(F.col(CHANGE_TYPE_COL) == INSERT, F.col("__row"))
            .alias("after"),
            F.col(OFFSET_COL).alias("_log_offset"),
            F.col(BUCKET_COL),
        )

    def lookup(self, spark: SparkSession, key: dict[str, object]) -> DataFrame:
        """Point lookup by full primary key (L1, Lookuper.java:43-56),
        answered on the driver without a Spark job: the client computes
        the owning bucket and pyarrow reads only that bucket's files
        from its one manifest data dir; the rows come back as an Arrow
        table behind a DataFrame (see `_keyed_read`)."""
        pk = self.schema.primary_key
        if sorted(key) != sorted(pk):
            raise ValueError(f"lookup key must be the full primary key {pk}, got {sorted(key)}")
        return self._keyed_read(spark, key, self.schema.bucket_keys)

    def prefix_lookup(self, spark: SparkSession, key: dict[str, object]) -> DataFrame:
        """Prefix lookup (L2, Lookup.java:66-105): the lookup columns
        must be the bucket key, which must be a prefix of the pk. On a
        PARTITIONED table the reference additionally requires the
        partition fields in the lookup columns ('the schema of the
        lookup columns should contain partition fields and bucket key',
        Lookup.java:80-84) and the prefix property is checked with
        partition fields excluded from both sides — a partition-less
        prefix probe would fan out to every partition directory."""
        pcols = self.schema.partition_keys
        bk = self.schema.bucket_keys
        missing_parts = [c for c in pcols if c not in key]
        if missing_parts:
            raise ValueError(
                f"prefix lookup on a partitioned table must include the "
                f"partition field(s) {missing_parts} (Lookup.java:80-84)"
            )
        if sorted(c for c in key if c not in pcols) != sorted(bk):
            raise ValueError(
                f"prefix lookup key must be the bucket key {bk}"
                + (f" plus partition fields {pcols}" if pcols else "")
                + f", got {sorted(key)}"
            )
        pk_np = [c for c in self.schema.primary_key if c not in pcols]
        if pk_np[: len(bk)] != bk:
            raise ValueError(
                f"bucket key {bk} is not a prefix of the primary key "
                f"excluding partition fields {pk_np}"
            )
        return self._keyed_read(spark, key, bk)

    def _keyed_read(self, spark: SparkSession, key: dict[str, object], bucket_key: list[str]) -> DataFrame:
        """Rows matching `key`, routed the way the reference client
        routes a get (FlussBucketingFunction): the bucket is Spark's
        Murmur3 `hash()` of the typed bucket-key values, computed in
        Python (`bucketing.bucket_of`), so no job resolves it.

        The manifest names the one data dir holding that bucket; on a
        partitioned table, the (partition, bucket) entries whose parsed
        partition values equal the key's. pyarrow reads those leaf dirs
        with the key equality pushed down as a row-group filter
        (`_bucket_rows`), and the rows come back as an `_ArrowFrame`:
        collect(), count(), toPandas() and the like answer from the
        Arrow table with no Spark job, and the JVM side is built only
        if Spark needs it. A deferred WAL tail merges on top through
        `_merge_tail`."""
        import pyarrow as pa

        schema, pcols = self.schema, self.schema.partition_keys
        struct = schema.to_struct_type()
        types = {f.name: parse_type(f.type) for f in schema.fields}
        state = self.catalog.current_commit(self.db, self.table)
        # no manifest yet (a deferred table before its first
        # materialization) reads as an empty base under the tail
        manifest = self._manifest(state.snapshot_version) or {}
        # a naive timestamp string means a time in the session zone, in
        # a key and in a partition dir name alike
        tz = (
            spark.conf.get("spark.sql.session.timeZone")
            if pcols or any(isinstance(key[c], str) and isinstance(types[c], T.TimestampType) for c in key)
            else "UTC"
        )
        want = {c: to_internal(v, types[c], tz) for c, v in key.items()}
        if not all(exact(key[c], want[c], types[c]) for c in key):
            # the key is cast for routing only: a value the column cannot
            # hold (7.5 for an INT) equals no stored row
            return _ArrowFrame(spark, struct)
        bkt = bucket_of([key[c] for c in bucket_key], [types[c] for c in bucket_key], schema.num_buckets, tz)
        if pcols:
            # partition values live in the dir names, parsed the way
            # Spark's partition discovery casts them; a partition column
            # the key leaves out matches every partition
            sel = [i for i, c in enumerate(pcols) if c in key]
            part = _partition_key(want[pcols[i]] for i in sel)
            units = []
            for (pp, b), data_dir in sorted(manifest.items()):
                parsed = self._parsed_partpath(pp, tz) if b == bkt else None
                if parsed is not None and tuple(parsed[i] for i in sel) == part:
                    leaf = os.path.join(pp, f"{BUCKET_COL}={bkt}")
                    units.append((data_dir, leaf, dict(zip(pcols, parsed))))
        else:
            units = [(manifest[bkt], f"{BUCKET_COL}={bkt}", {})] if bkt in manifest else []
        tables = [self._bucket_rows(d, leaf, want, types, consts) for d, leaf, consts in units]
        base = _ArrowFrame(spark, struct, pa.concat_tables(tables) if tables else None)
        tail_start = self._tail_start(state)
        if tail_start is None:
            return base
        # deferred materialization left a WAL tail: merge the key's own
        # slice of it (one bucket dir per tail commit + offset/stats
        # pruning) on top of the base read
        tail = (
            self.log.scan(spark, start_offsets=tail_start or None)
            .filter(F.col(BUCKET_COL) == F.lit(bkt))
            .filter(self._key_cond(key))
        )
        return self._merge_tail(base, tail)

    def _bucket_rows(self, data_dir: str, leaf: str, want: dict, types: dict, consts: dict):
        """The rows of `<data_dir>/<leaf>/*.parquet` whose columns equal
        the `to_internal` key values `want`, read by pyarrow into an
        Arrow table of the current schema (`to_arrow_schema`). A
        schema-evolved (era) dir is mapped in Arrow: each column is
        found by field id and cast to its current type (an ALTER admits
        only widenings, `types.is_widening`, which Arrow casts exactly),
        and columns added since read as nulls. `consts` holds the leaf's
        partition values (`to_internal`), which Spark keeps in the dir
        names, not in the files."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema.to_struct_type())
        path = os.path.join(self.snapshot_dir, data_dir, leaf)
        files = sorted(glob.glob(os.path.join(glob.escape(path), "*.parquet")))
        if not files:
            return target.empty_table()
        era = self._era_for_dir(data_dir)
        # each current column's name in the files (None: added since)
        phys = {f.name: f.name if era is None else era.get(f.field_id, (None,))[0] for f in self.schema.fields}
        # Spark writes TIMESTAMP_LTZ as INT96; read at micros, Spark's
        # own unit (nanos would overflow outside 1677..2262)
        parquet = ds.ParquetFileFormat(read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us"))
        dataset = ds.dataset(files, format=parquet)
        cond, nested = None, []
        for c, value in want.items():
            if c in consts:
                continue
            if isinstance(types[c], (T.ArrayType, T.StructType)):
                nested.append((c, value))  # arrow has no nested ==
                continue
            term = _arrow_eq(ds.field(phys[c]), value, types[c], dataset.schema.field(phys[c]).type)
            cond = term if cond is None else cond & term
        table = dataset.to_table(columns=[n for n in phys.values() if n in dataset.schema.names], filter=cond)
        n = table.num_rows
        cols = {c: pa.repeat(_arrow_value(v, types[c]), n) for c, v in consts.items()}
        cols.update((c, table.column(p)) for c, p in phys.items() if p in table.column_names)
        # the cast also labels Spark's tz-naive INT96 timestamps as the
        # UTC instants they are
        table = pa.Table.from_arrays(
            [cols[f.name].cast(f.type) if f.name in cols else pa.nulls(n, f.type) for f in target], schema=target
        )
        for c, value in nested:
            mask = [to_internal(v, types[c]) == value for v in table.column(c).to_pylist()]
            table = table.filter(pa.array(mask, pa.bool_()))
        return table

    @staticmethod
    def _key_cond(key: dict[str, object]):
        cond = F.lit(True)
        for c, v in key.items():
            cond = cond & (F.col(c) == F.lit(v))
        return cond


class _ArrowFrame(ClassicDataFrame):
    """A keyed read's result: the rows pyarrow read on the driver, held
    as an Arrow table, the way the reference's Lookuper completes the
    client's future with the encoded rows (Lookuper.java:43-56).
    collect(), count(), isEmpty(), schema, columns and toArrow() answer
    from that table, with no Spark job; so does toPandas() with Arrow
    off, through collect(). Whatever needs the plan (a join, select,
    explain, inputFiles(), a write, a tail merge, toPandas() with Arrow
    on) goes through `_jdf`, built on first use as a local relation over
    the same table and kept. toPandas() with Arrow on stays on that
    route: pandas reads a struct's children under null structs, and
    those slots differ between pyarrow's reads and the JVM's batches."""

    def __new__(cls, *args):
        return object.__new__(cls)  # DataFrame.__new__ would run __init__ twice

    def __init__(self, spark: SparkSession, struct: T.StructType, table=None):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._session, self._sc = spark, spark.sparkContext
        self.is_cached, self._support_repr_html = False, False
        self._struct = struct
        # empty_table() gives every column one (empty) chunk:
        # createDataFrame rejects nested columns with none
        self._table = table if table is not None and table.num_rows else to_arrow_schema(struct).empty_table()

    @cached_property
    def _jdf(self):
        return self._session.createDataFrame(self._table, self._struct)._jdf

    @property
    def schema(self) -> T.StructType:
        return self._struct

    def collect(self) -> list:
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        # the conf that picks bytes or bytearray is read only when a
        # binary type (or a column so named) can need it: a py4j call
        as_bytes = "binary" not in self._struct.simpleString() or (
            self._session.conf.get("spark.sql.execution.pyspark.binaryAsBytes", "true").lower() == "true"
        )
        return ArrowTableToRowsConversion.convert(self._table, self._struct, binary_as_bytes=as_bytes)

    def count(self) -> int:
        return self._table.num_rows

    def isEmpty(self) -> bool:
        return self._table.num_rows == 0

    def toArrow(self):
        from pyspark.sql.pandas.types import to_arrow_schema

        large = self._session._jconf.arrowUseLargeVarTypes()
        return self._table.cast(
            to_arrow_schema(self._struct, error_on_duplicated_field_names_in_struct=True, prefers_large_types=large)
        )


_NAN = float("nan")


def _partition_key(values) -> tuple:
    """Partition values as a tuple that compares like Spark's `=`:
    every NaN becomes the one `_NAN` object, and tuples compare their
    items by identity first, so NaN equals NaN."""
    return tuple(_NAN if v != v else v for v in values)


def _arrow_value(want, dt, tz=None):
    """The pyarrow scalar of a `to_internal` value of column type `dt`,
    timestamps labelled with the time zone `tz`."""
    import pyarrow as pa

    if isinstance(dt, T.DecimalType):
        return pa.scalar(decimal.Decimal(f"{want}E-{dt.scale}"), pa.decimal128(dt.precision, dt.scale))
    if isinstance(dt, T.DateType):
        return pa.scalar(want, pa.date32())
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return pa.scalar(want, pa.timestamp("us", tz=tz))
    return pa.scalar(want)


def _arrow_eq(field, want, dt, ftype):
    """`field = want` (Spark SQL equality) as a pyarrow filter over the
    file's column type `ftype`, from the key's `to_internal` value for
    the current column type `dt`. A value the file's type cannot hold
    exactly (a key past the range of a since-widened column) matches no
    row of that file."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if want is None:
        return pc.scalar(False)  # `= NULL` matches no row
    if isinstance(dt, (T.FloatType, T.DoubleType)) and math.isnan(want):
        return pc.is_nan(field)  # Spark's = treats NaN as equal to NaN
    value = _arrow_value(want, dt, getattr(ftype, "tz", None))
    try:
        physical = value.cast(ftype)
    except pa.ArrowInvalid:  # out of range, or lossy for decimals
        return pc.scalar(False)
    if not physical.cast(value.type).equals(value):  # e.g. rounded to float32
        return pc.scalar(False)
    return field == physical
