"""Primary-key (KV) table store: upsert transaction, incremental
bucket-manifest snapshots, lookups, changelog views.

The reference's write path (server/kv/KvTablet.java:514-792) reads the
old value from RocksDB per record, merges, and appends +I/-U/+U/-D rows
to the WAL; KV snapshots upload per-tablet and only changed tablets
produce new files (server/kv/snapshot/). Here one deterministic
transaction does all of it set-at-a-time:

  1. seed   = snapshot rows of the BATCH's buckets, semi-joined to the
              batch's keys (the distributed read-old; O(batch), not
              O(table))
  2. fold   = operators/replay.py window fold over seed ∪ batch
  3. ONE write action produces BOTH commit artifacts as sibling
     partition dirs (__dest=w -> WAL, __dest=s -> snapshot): a single
     bucket-window pass assigns per-bucket __offset to the change
     events AND detects each key's last event; that last event (when
     not -D) is exploded into a second copy routed to the snapshot
     side, together with prior-snapshot rows whose key saw no event.
     ONLY touched snapshot units are rewritten — the unit is the
     bucket (plain pk tables) or the (partition, bucket) pair
     (partitioned ones); untouched units stay as prior-version files,
     referenced through a per-version manifest, so per-commit write
     cost is O(touched units), not O(table)
  4. the driver renames __dest=w/__dest=s into the log commit dir and
     snapshot/data-vN, then one atomic commit advances the table to V'

Because the WAL row and the snapshot row of a key's last event are two
explode copies of the SAME evaluated row, they cannot diverge even
under non-deterministic input or task retries — the single-action
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
inside the same commit window. The retained two-pass path
(`_commit_twopass`) exists as the equivalence baseline the test suite
compares against, not as a production route.
"""

from __future__ import annotations

import decimal
import glob
import json
import math
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from fluss_spark.bucketing import bucket_of, exact, to_internal
from fluss_spark.catalog import Catalog, CommitState
from fluss_spark.operators.replay import (
    OP_COL,
    SEED_COL,
    SEQ_COL,
    SUB_COL,
    replay,
)
from fluss_spark.sources.log import LogStore
from fluss_spark.types import (
    BUCKET_COL,
    CHANGE_TYPE_COL,
    DELETE,
    INSERT,
    OFFSET_COL,
    TIMESTAMP_COL,
    ddl_of,
    parse_type,
)

# partition column splitting the single-action commit write into its two
# sibling artifacts: __dest=w (WAL commit files) / __dest=s (snapshot)
DEST_COL = "__dest"

# group-commit batch index: rides the fused fold as the most-significant
# fold-order component (ORDER BY __grp, __seq everywhere __seq orders),
# and the write action partitions the WAL side by it (__g=<idx> dirs →
# one commit version per batch). Seed/prior rows carry -1 (sort first).
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
        self._dir_cache: dict[tuple[str, int], DataFrame] = {}
        self._partpath_parse_cache: dict[str, tuple | None] = {}
        # version -> per-bucket HWM at that commit (immutable once
        # written; feeds the deferred-snapshot tail bounds)
        self._hwm_cache: dict[int, dict[int, int]] = {}

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
        Catalog._write_atomic(
            os.path.join(self.manifest_dir, f"v{version}.json"), json.dumps(doc)
        )

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

    def _parsed_partpath(self, partpath: str):
        """Typed partition-value tuple parsed from a manifest partpath
        string (the inverse of Spark's hive path escaping — always
        PARSE dir strings, never construct them), or None when a value
        type has no exact driver-side parse (those tables keep
        bucket-level dir pruning only). Cached per partpath — manifest
        strings repeat across versions."""
        import datetime
        import urllib.parse

        cached = self._partpath_parse_cache.get(partpath)
        if cached is not None or partpath in self._partpath_parse_cache:
            return cached
        types = {f.name: f.type.upper() for f in self.schema.fields}
        vals: list = []
        out = None
        try:
            for seg in partpath.split("/"):
                k, v = seg.split("=", 1)
                v = urllib.parse.unquote(v)
                t = types[k]
                if t in ("STRING", "VARCHAR", "CHAR"):
                    vals.append(v)
                elif t in ("INT", "INTEGER", "BIGINT", "SMALLINT", "TINYINT"):
                    vals.append(int(v))
                elif t == "DATE":
                    vals.append(datetime.date.fromisoformat(v))
                else:  # float/timestamp/bool: no exact text parse
                    raise ValueError(t)
            out = tuple(vals)
        except (ValueError, KeyError):
            out = None
        self._partpath_parse_cache[partpath] = out
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

    def _bucket_expr(self):
        return F.pmod(F.hash(*self.schema.bucket_keys), F.lit(self.schema.num_buckets)).cast("int")

    def _bucket_sql(self) -> str:
        """SQL-string form of _bucket_expr (whole-select plan building)."""
        keys = ", ".join(f"`{c}`" for c in self.schema.bucket_keys)
        return f"CAST(pmod(hash({keys}), {self.schema.num_buckets}) AS INT)"

    # ------------------------------------------------------------------ #
    # upsert / delete transaction (M1-M9)
    # ------------------------------------------------------------------ #
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
        discovery job that otherwise bounds the seed read and the
        commit's prior-snapshot feed."""
        spark = df.sparkSession
        schema = self.schema
        pk, cols = schema.primary_key, schema.data_columns()

        if partial_update_cols is not None:
            missing_pk = [c for c in pk if c not in partial_update_cols]
            if missing_pk:
                raise ValueError(f"partial update must include the primary key, missing {missing_pk}")

        # M10: auto-increment columns are engine-assigned surrogate ids —
        # a caller may neither supply values for them (the batch frame's
        # columns ARE the write's target columns; the reference client
        # rejects auto-inc among targets, UpsertWriterImpl.sanityCheck
        # :107-152) nor name them as partial-update targets (server-side
        # PerSchemaAutoIncrementUpdater.validateTargetColumns:101-127).
        auto_cols = [f.name for f in schema.fields if f.auto_increment]
        if auto_cols:
            supplied = [c for c in auto_cols if c in df.columns]
            if supplied:
                raise ValueError(
                    f"explicitly specifying values for auto-increment "
                    f"column(s) {supplied} is not allowed — drop them from "
                    "the batch; the engine assigns ids at key insert"
                )
            bad_targets = [
                c for c in auto_cols if partial_update_cols and c in partial_update_cols
            ]
            if bad_targets:
                raise ValueError(
                    f"auto-increment column(s) {bad_targets} must not be "
                    "included in partial-update target columns"
                )

        if (
            int(schema.properties.get("table.snapshot.defer-commits", "1") or "1") <= 1
            and self._tail_start(self.catalog.current_commit(self.db, self.table))
            is not None
        ):
            # defer-commits was lowered/unset while a WAL tail was
            # pending: fold it in BEFORE bucket/pair discovery — the
            # fused commit rewrites only this batch's units and advances
            # snapshot_version, which would otherwise strand the tail's
            # other units behind a "covered" HWM, and pair_keys computed
            # against the stale manifest would miss tail-created pairs
            self.materialize(spark)

        # AQE off for the whole serial transaction (fold-input discovery
        # job included), not just the commit action: every job in here
        # has a fixed shape (tiny discovery aggregate, hash-by-bucket
        # window write) where AQE's stage-by-stage replanning is pure
        # driver latency. Deferred tables keep the session setting — a
        # cadence materialize() runs a real join that AQE should plan.
        defer = int(schema.properties.get("table.snapshot.defer-commits", "1") or "1")
        fused = defer <= 1  # single-action commit: fold + rewrite share ONE exchange
        if defer <= 1:
            _aqe_off_enter(spark)
        try:
            if fused and self._fold_replay_sql_ok(df, partial_update_cols, merge_mode):
                # one-statement fold+replay: one JVM analysis instead of
                # seven per-layer analyses (guide §7.3 driver latency)
                changelog, batch_buckets, pair_scope, prior = self._fold_replay_sql(
                    spark, df, ordering, batch_buckets
                )
            else:
                fold_in, may_have_deletes, batch_buckets, pair_scope, prior = self._fold_input(
                    spark, df, ordering, batch_buckets, fused=fused
                )

                changelog, _ = replay(
                    fold_in,
                    schema,
                    partial_update_cols=partial_update_cols,
                    merge_mode=merge_mode,
                    may_have_deletes=may_have_deletes,
                    cluster_cols=[BUCKET_COL] if fused else None,
                    emit_prior=fused,
                )
            return self._commit_changelog(
                spark, changelog, commit_ts_ms, batch_buckets, pair_scope, prior,
                prior_included=fused,
            )
        finally:
            if defer <= 1:
                _aqe_off_exit(spark)

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
        calls, pinned by tests/test_commit_equivalence.py:
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
        Shapes the single-statement fold does not cover (non-default
        merge engines, partial updates, auto-increment id packing, a
        pending deferred tail) fall back to sequential upserts."""
        batches = [b for b in batches]
        if not batches:
            raise ValueError("upsert_many requires at least one batch")
        if isinstance(commit_ts_ms, (list, tuple)):
            if len(commit_ts_ms) != len(batches):
                raise ValueError("commit_ts_ms list must match batches")
            ts_list = [int(t) for t in commit_ts_ms]
        else:
            import time

            one = int(time.time() * 1000) if commit_ts_ms is None else int(commit_ts_ms)
            ts_list = [one] * len(batches)
        schema = self.schema
        defer = int(schema.properties.get("table.snapshot.defer-commits", "1") or "1")
        groupable = (
            len(batches) > 1
            and defer <= 1
            and not any(f.auto_increment for f in schema.fields)
            and all(self._fold_replay_sql_ok(b, None, None) for b in batches)
            # a pending WAL tail means the serial path must materialize
            # first — keep that logic in one place (upsert)
            and self._tail_start(self.catalog.current_commit(self.db, self.table))
            is None
        )
        if not groupable:
            return [
                self.upsert(
                    b, ordering=ordering, commit_ts_ms=ts,
                    batch_buckets=batch_buckets,
                )
                for b, ts in zip(batches, ts_list)
            ]
        spark = batches[0].sparkSession
        _aqe_off_enter(spark)
        try:
            changelog, batch_buckets, pair_scope, prior = self._fold_replay_sql(
                spark, batches, ordering, batch_buckets
            )
            return self._commit_group(
                spark, changelog, ts_list, batch_buckets, pair_scope, prior,
                len(batches),
            )
        finally:
            _aqe_off_exit(spark)

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
        other):

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
        import shutil
        import time
        import uuid

        spark = df.sparkSession
        schema = self.schema
        if any(f.auto_increment for f in schema.fields):
            raise ValueError(
                "optimistic commits are not supported on auto-increment "
                "tables (the id counter is table-global)"
            )
        if int(schema.properties.get("table.snapshot.defer-commits", "1") or "1") > 1:
            raise ValueError(
                "optimistic commits require eager materialization "
                "(table.snapshot.defer-commits <= 1)"
            )
        if partial_update_cols is not None:
            missing_pk = [c for c in schema.primary_key if c not in partial_update_cols]
            if missing_pk:
                raise ValueError(
                    f"partial update must include the primary key, missing {missing_pk}"
                )

        reason = "conflict"
        for _attempt in range(max(0, int(max_retries)) + 1):
            state0 = self.catalog.current_commit(self.db, self.table)
            if self._tail_start(state0) is not None:
                raise ValueError(
                    "optimistic commit refused: a deferred WAL tail is "
                    "pending — materialize() first"
                )
            if self._fold_replay_sql_ok(df, partial_update_cols, merge_mode):
                changelog, buckets0, pair_scope, prior = self._fold_replay_sql(
                    spark, df, ordering, batch_buckets
                )
            else:
                fold_in, may_have_deletes, buckets0, pair_scope, prior = self._fold_input(
                    spark, df, ordering, batch_buckets, fused=True
                )
                changelog, _ = replay(
                    fold_in,
                    schema,
                    partial_update_cols=partial_update_cols,
                    merge_mode=merge_mode,
                    may_have_deletes=may_have_deletes,
                    cluster_cols=[BUCKET_COL],
                    emit_prior=True,
                )
            ts_ms = (
                commit_ts_ms if commit_ts_ms is not None else int(time.time() * 1000)
            )
            out, persisted, _auto = self._commit_plan(
                spark, changelog, ts_ms, buckets0, pair_scope, state0, prior,
                prior_included=True,
            )
            combined = os.path.join(
                self.log.tmp_dir, f"inflight-{uuid.uuid4().hex[:12]}"
            )
            try:
                self._write_combined(out, combined, persisted)
                if _pre_lock_hook is not None:
                    _pre_lock_hook()
                with self.catalog.write_lock(self.db, self.table):
                    s1 = self.catalog.current_commit(self.db, self.table)
                    reason = self._occ_conflict(state0, s1, combined)
                    if reason is None:
                        self._occ_shift_offsets(spark, combined, state0, s1)
                        return self._commit_finish(
                            spark,
                            combined,
                            s1,
                            s1.version + 1,
                            ts_ms,
                            dict(s1.auto_increment),
                        )
            finally:
                shutil.rmtree(combined, ignore_errors=True)
        raise CommitConflictError(
            f"optimistic commit on {self.db}.{self.table} gave up after "
            f"{max_retries} retries: {reason}"
        )

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
        import shutil

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
            shutil.rmtree(bdir)
            os.rename(tmp, bdir)

    def _fold_input(
        self,
        spark: SparkSession,
        df: DataFrame,
        ordering: list[str] | None,
        known_buckets: list[int] | None = None,
        fused: bool = False,
    ):
        """Build the fold input (seed ∪ batch, with per-key __seq) so the
        whole upsert fold costs ONE hash exchange
        (tests/test_plans.py pins this on the full path).

        `fused=False` (the WAL-only/deferred shape): the seed is the
        bounded snapshot SEMI-JOINED to the batch's keys, __seq windows
        partition by pk, and the fold's exchange is a pk hash — the
        commit feeds the prior snapshot separately.

        `fused=True` (the single-action commit shape): the seed is the
        WHOLE bounded snapshot (every row of the batch's buckets/pairs —
        exactly the rows the snapshot rewrite must feed anyway), a
        `__bucket` column is materialized, and the frame is hash-
        partitioned by bucket BEFORE the fold. Every window downstream —
        the __seq assignment here, the replay fold, the commit's offset/
        is-last/id-carry windows (all PARTITION BY __bucket[, pk], and
        bucket = pmod(hash(pk), n) is a function of the pk) — is
        satisfied by that single num_buckets-wide exchange: the whole
        upsert transaction becomes scan → ONE exchange → windows →
        write, with no seed semi-join/broadcast and the snapshot read
        once instead of twice (guide §2.4)."""
        schema = self.schema
        pk, cols = schema.primary_key, schema.data_columns()
        # normalize the batch: every data column present (nulls for
        # non-target), __op. The per-key fold sequence (__seq) is NOT
        # assigned here: a window on the bare batch would cost its own pk
        # exchange, and the union with the seed below discards the
        # partitioning, forcing the fold to exchange AGAIN. Instead the
        # ordering columns ride along and __seq is computed after the
        # union, inside the fold's single pk exchange.
        b = df
        may_have_deletes = OP_COL in b.columns  # no __op => all upserts
        if ordering:
            ord_names = [c for c in ordering]
        else:
            b = b.withColumn("__arrival", F.monotonically_increasing_id())
            ord_names = ["__arrival"]
        ord_extra = [c for c in ord_names if c not in cols]
        # ONE projection (a per-field withColumn loop costs a full plan
        # copy + re-analysis per column — pure driver latency per commit),
        # built directly in output order so no reorder select follows
        have = set(b.columns)
        # parse_type().simpleString() = Spark-SQL DDL (the schema's own
        # type strings are engine DDL — e.g. BYTES — which CAST rejects)
        ftype = {f.name: f.type for f in schema.fields}
        proj = [
            (
                f"CAST(`{c}` AS {parse_type(ftype[c]).simpleString()}) AS `{c}`"
                if c in have
                else f"CAST(NULL AS {parse_type(ftype[c]).simpleString()}) AS `{c}`"
            )
            for c in cols
        ]
        proj.append(f"`{OP_COL}`" if may_have_deletes else f"'U' AS `{OP_COL}`")
        proj.append(f"0 AS `{SEED_COL}`")
        proj += [f"`{c}`" for c in ord_extra]
        if fused:
            # __bucket rides this projection (over the CAST key values,
            # identical to hashing the post-union columns) instead of a
            # separate post-union selectExpr: every transformation layer
            # costs an eager re-analysis of the whole accumulated plan,
            # so the fused chain materializes the column in BOTH union
            # branches and drops the extra layer
            cast_of = {
                c: f"CAST(`{c}` AS {parse_type(ftype[c]).simpleString()})"
                if c in have
                else f"CAST(NULL AS {parse_type(ftype[c]).simpleString()})"
                for c in schema.bucket_keys
            }
            keys_sql = ", ".join(cast_of[c] for c in schema.bucket_keys)
            proj.append(
                f"CAST(pmod(hash({keys_sql}), {schema.num_buckets}) AS INT)"
                f" AS `{BUCKET_COL}`"
            )
        b = b.selectExpr(*proj)

        # read-old restricted to the batch's buckets and keys; on a table
        # with no state yet (first commit) there is nothing to read, so
        # the batch-bucket discovery job is skipped entirely. Under
        # deferred materialization the state may live partly (or, before
        # the first materialization, entirely) in the WAL tail — the
        # hybrid snapshot() serves it, so "has state" must consider the
        # tail, not just the manifest.
        state_now = self.catalog.current_commit(self.db, self.table)
        manifest_now = self._manifest(state_now.snapshot_version)
        has_snapshot = bool(manifest_now) or self._tail_start(state_now) is not None
        # batch-bucket discovery ALWAYS runs when a snapshot exists: the
        # single-action commit feeds the prior snapshot of these buckets
        # straight into its bucket window with no key semi-join, so an
        # unbounded feed would shuffle O(table) per commit. The discovery
        # collect is one tiny job (<= num_buckets rows) and also prunes
        # the seed read's dir/footer walk. A caller that already knows a
        # superset of the batch's buckets passes it in and skips the job.
        # Partitioned tables discover (partition values, bucket) PAIRS:
        # the typed pair predicate bounds the seed and the prior feed to
        # the batch's partitions too (directory pruning), capped at 512
        # pairs so a corpus-wide backfill doesn't explode the plan.
        pair_pred = None
        pair_keys = None
        if not has_snapshot:
            batch_buckets = []
        elif known_buckets is not None:
            batch_buckets = [int(x) for x in known_buckets]
        else:
            batch_buckets, pair_pred, pair_keys = self._discover_scope(
                b, manifest_now
            )
        # no .distinct() on the probe side: a semi join dedups by
        # definition, and the distinct would cost its own exchange + agg
        ord_types = dict(b.dtypes)
        # ONE bounded-snapshot frame serves both the seed probe here and
        # the commit's prior-row feed (_commit_plan reuses it instead of
        # re-deriving an identical plan — one snapshot analysis per
        # commit, and seed + prior feed are guaranteed the same basis)
        bounded = self.snapshot(
            spark, buckets=batch_buckets, pair_pred=pair_pred, pair_keys=pair_keys
        )
        if fused:
            # the whole bounded snapshot rides the fold (no semi-join):
            # untouched keys' rows become the prior-row feed the commit
            # needs anyway (replay re-emits them with a NULL change type);
            # __bucket is materialized here too (see the batch projection
            # above) so the union needs no trailing bucket layer
            seed = bounded.selectExpr(
                "*",
                f"'U' AS `{OP_COL}`",
                f"1 AS `{SEED_COL}`",
                *[f"CAST(NULL AS {ord_types[c]}) AS `{c}`" for c in ord_extra],
                f"{self._bucket_sql()} AS `{BUCKET_COL}`",
            )
        else:
            seed = (
                bounded
                .join(b.select(*pk), on=pk, how="left_semi")
                .selectExpr(
                    "*",
                    f"'U' AS `{OP_COL}`",
                    f"1 AS `{SEED_COL}`",
                    # seed rows sort first by SEED, ord is moot
                    *[f"CAST(NULL AS {ord_types[c]}) AS `{c}`" for c in ord_extra],
                )
            )
        # a union aligns BY NAME and seed's column set equals b's, so no
        # reorder select on either side
        fold_in = seed.unionByName(b)
        part_sql = ", ".join(f"`{c}`" for c in pk)
        if fused:
            # __bucket arrived with both union branches; establish the
            # transaction's ONE exchange here — every downstream window
            # is keyed by __bucket[, pk] and reuses it
            fold_in = fold_in.repartition(schema.num_buckets, F.col(BUCKET_COL))
            part_sql = f"`{BUCKET_COL}`, " + part_sql
        # __seq inside the fold's own exchange: seed first (SEED desc),
        # then batch rows in `ordering` order. Batch rows number 1.. per
        # key whether or not a seed row exists (sum(SEED) over the key =
        # presence); seed rows pin __seq=0 — identical semantics to the
        # old pre-union row_number window, minus one full-batch exchange.
        # ONE projection computes __seq and drops the ordering columns.
        ord_sql = ", ".join(
            [f"`{SEED_COL}` DESC"] + [f"`{c}` ASC NULLS FIRST" for c in ord_names]
        )
        fold_in = fold_in.selectExpr(
            *[f"`{c}`" for c in cols],
            f"`{OP_COL}`",
            f"CAST(CASE WHEN `{SEED_COL}` = 1 THEN 0 ELSE "
            f"row_number() OVER (PARTITION BY {part_sql} ORDER BY {ord_sql}) "
            f"- sum(`{SEED_COL}`) OVER (PARTITION BY {part_sql}) END AS BIGINT) "
            f"AS `{SEQ_COL}`",
            f"`{SEED_COL}`",
            *([f"`{BUCKET_COL}`"] if fused else []),
        )
        pair_scope = (
            (pair_pred, pair_keys)
            if (pair_pred is not None or pair_keys is not None)
            else None
        )
        return fold_in, may_have_deletes, batch_buckets, pair_scope, bounded

    def _discover_scope(self, b: DataFrame, manifest_now):
        """Batch write scope — (bucket list, typed pair predicate,
        manifest pair keys) — from a normalized batch frame `b` (CAST
        key/partition columns present under their schema names). ONE
        map-side collect_set job. Shared by the layered fold
        (_fold_input) and the one-statement SQL fold (_fold_replay_sql)."""
        pair_pred = None
        pair_keys = None
        pcols = self.schema.partition_keys
        if pcols:
            # same map-side collect_set shape as the unpartitioned arm:
            # one <=pairs set per scan partition, single-stage job
            rows = list(
                b.select(
                    F.collect_set(
                        F.struct(*pcols, self._bucket_expr().alias("__b"))
                    ).alias("ps")
                ).first()["ps"]
            )
            batch_buckets = sorted({int(r["__b"]) for r in rows})
            if 0 < len(rows) <= PAIR_SCOPE_MAX:
                pair_pred = reduce(
                    lambda a, c: a | c,
                    [
                        reduce(
                            lambda a, c: a & c,
                            [F.col(p) == F.lit(r[p]) for p in pcols],
                        )
                        & (F.col(BUCKET_COL) == int(r["__b"]))
                        for r in rows
                    ],
                )
                # exact manifest-key pruning: parse each candidate
                # entry's partpath back to typed values (never construct
                # paths) and keep only entries matching a batch pair —
                # the prior feed's PLAN then holds O(batch pairs) dirs,
                # not every dir holding those buckets. Entries whose
                # partpath has no exact driver-side parse are kept
                # conservatively.
                want = {
                    tuple(r[p] for p in pcols) + (int(r["__b"]),) for r in rows
                }
                bset = set(batch_buckets)
                pair_keys = []
                for pp, bkt in manifest_now or {}:
                    if bkt not in bset:
                        continue
                    parsed = self._parsed_partpath(pp)
                    if parsed is None or parsed + (bkt,) in want:
                        pair_keys.append((pp, bkt))
        else:
            # collect_set, not distinct().collect(): the map-side partial
            # aggregation reduces each scan partition to one <=num_buckets
            # set, so the job is a single 1-reducer stage instead of a
            # full distinct exchange (same tiny result, one less stage
            # and no AQE replan on the discovery path)
            batch_buckets = sorted(
                int(x)
                for x in b.select(
                    F.collect_set(self._bucket_expr()).alias("bs")
                ).first()["bs"]
            )
        return batch_buckets, pair_pred, pair_keys

    def _fold_replay_sql_ok(
        self,
        df: DataFrame,
        partial_update_cols: list[str] | None,
        merge_mode: str | None,
    ) -> bool:
        """Gate for the one-statement SQL fold: the composer covers the
        default merge engine's fused fold only (the dominant commit
        shape — every bulk load and plain upsert). Everything else —
        partial updates (their delete probe + replay_exact dispatch),
        non-default merge engines, DELETE-disabled tables whose batch
        could carry deletes (the layered path runs the presence probe
        and raises) — keeps the layered _fold_input + replay path."""
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

    def _fold_replay_sql(
        self,
        spark: SparkSession,
        df: DataFrame | list[DataFrame],
        ordering: list[str] | None,
        known_buckets: list[int] | None,
    ):
        """The fused fold + default-merge replay as ONE spark.sql
        statement (guide §7.3 — driver latency): the layered path's
        seven eagerly-analyzed plan layers (batch projection, seed
        projection, union, repartition, __seq window, fold windows,
        changelog emission — each a full JVM re-analysis of the
        accumulated tree per commit) become nested subqueries analyzed
        ONCE. The expression strings are the SAME ones the layered path
        passes to selectExpr (shared builders in operators/replay.py),
        so the resolved plan — and the transaction's single
        hash(__bucket) exchange — is identical by construction
        (tests/test_plans.py pins the plan shape; the commit-equivalence
        suite compares the output row-for-row against the independent
        two-pass baseline).

        Returns (changelog, batch_buckets, pair_scope, bounded) — the
        same contract `_fold_input` + `replay(cluster_cols=[__bucket],
        emit_prior=True)` produces for `_commit_changelog(
        prior_included=True)`.

        `df` may be a LIST of batches (group commit, see upsert_many):
        each batch is projected with its index as `__grp` (seed rows
        -1), per-batch `__seq` restarts at 1 (PARTITION BY ..., __grp),
        and every fold/emission window orders by (__grp, __seq) — the
        per-key frames are then exactly the concatenation of N
        sequential folds, so the emitted change rows are identical. With
        a single batch the generated SQL is byte-identical to before."""
        from fluss_spark.operators.replay import (
            default_fold_select_list,
            emit_select_list,
            wal_image_ct_case_sql,
            wal_image_where_sql,
        )

        schema = self.schema
        pk, cols = schema.primary_key, schema.data_columns()
        dfs = df if isinstance(df, list) else [df]
        grouped = len(dfs) > 1
        may_have_deletes = any(OP_COL in d.columns for d in dfs)
        ord_names = list(ordering) if ordering else ["__arrival"]
        ord_extra = [c for c in ord_names if c not in cols]
        ftype = {f.name: f.type for f in schema.fields}

        def _cast_sql_for(d: DataFrame) -> dict[str, str]:
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

        # batch projection (layer shared with _fold_input's `proj`);
        # __arrival is computed inline — same per-row value as the
        # layered path's pre-projection withColumn
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

        # write scope (same rules as _fold_input): skip on first commit,
        # trust a caller-known superset, else one map-side discovery job
        # over a minimal CAST key/partition frame (the union of all
        # batches' keys under group commit)
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
            disc_cols = list(
                dict.fromkeys(list(schema.bucket_keys) + list(schema.partition_keys))
            )
            bdisc = reduce(
                DataFrame.unionByName,
                [
                    d.selectExpr(*[f"{cs[c]} AS `{c}`" for c in disc_cols])
                    for d, cs in zip(dfs, cast_sqls)
                ],
            )
            batch_buckets, pair_pred, pair_keys = self._discover_scope(
                bdisc, manifest_now
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
        # the transaction's ONE exchange, sized to the table's bucket
        # count (same node as DataFrame.repartition(n, __bucket))
        repart_sql = (
            f"SELECT /*+ REPARTITION({schema.num_buckets}, `{BUCKET_COL}`) */ *"
            f" FROM ({union_sql})"
        )
        # per-batch __seq: under group commit the numbering partition
        # additionally keys on __grp, so each batch's rows restart at 1
        # per key — the sequential commits' numbering exactly
        seq_part_cols = [f"`{BUCKET_COL}`"] + [f"`{c}`" for c in pk] + (
            [f"`{GRP_COL}`"] if grouped else []
        )
        part_sql = ", ".join(seq_part_cols)
        ord_sql = ", ".join(
            [f"`{SEED_COL}` DESC"] + [f"`{c}` ASC NULLS FIRST" for c in ord_names]
        )
        seq_select = (
            [f"`{c}`" for c in cols]
            + [
                f"`{OP_COL}`",
                f"CAST(CASE WHEN `{SEED_COL}` = 1 THEN 0 ELSE "
                f"row_number() OVER (PARTITION BY {part_sql} ORDER BY {ord_sql}) "
                f"- sum(`{SEED_COL}`) OVER (PARTITION BY {part_sql}) END AS BIGINT) "
                f"AS `{SEQ_COL}`",
                f"`{SEED_COL}`",
                f"`{BUCKET_COL}`",
            ]
            + ([f"`{GRP_COL}`"] if grouped else [])
        )
        fold_sql = f"SELECT {', '.join(seq_select)} FROM ({repart_sql})"

        # DeleteBehavior.IGNORE rides as a WHERE on the fold output —
        # same placement as replay()'s filter (after __seq assignment)
        where = ""
        if schema.delete_behavior == "ignore" and may_have_deletes:
            where = f" WHERE `{OP_COL}` != 'D' OR `{SEED_COL}` = 1"
        fold_order = [GRP_COL, SEQ_COL] if grouped else None
        extra_fold_cols = [BUCKET_COL] + ([GRP_COL] if grouped else [])
        d_sql = (
            f"SELECT {', '.join(default_fold_select_list(cols, [BUCKET_COL] + list(pk), fold_order))}"
            f" FROM ({fold_sql}){where}"
        )
        emit_sql = (
            f"SELECT {', '.join(emit_select_list(cols, '__cur', '__prev', '__prev_present', 'true', extra_fold_cols, True))}"
            f" FROM ({d_sql})"
        )
        final_sql = emit_sql
        if schema.changelog_image == "wal":
            # +I -> +U rewrite gates exactly like the layered
            # _apply_changelog_image: default merge engine (the SCHEMA's
            # engine — an overwrite batch to a non-default-engine table
            # folds as last-write-wins but keeps +I, KvTablet semantics)
            # and no auto-increment columns.
            has_autoinc = any(f.auto_increment for f in schema.fields)
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
                + f" FROM ({emit_sql}) WHERE {wal_image_where_sql(True)}"
            )

        frames = {"snap": bounded}
        frames.update({_ph(g): d for g, d in enumerate(dfs)})
        changelog = spark.sql(final_sql, **frames)
        pair_scope = (
            (pair_pred, pair_keys)
            if (pair_pred is not None or pair_keys is not None)
            else None
        )
        return changelog, batch_buckets, pair_scope, bounded

    def _commit_changelog(
        self,
        spark: SparkSession,
        changelog: DataFrame,
        commit_ts_ms: int | None,
        batch_buckets: list[int] | None = None,
        pair_scope=None,
        prior_frame: DataFrame | None = None,
        prior_included: bool = False,
    ) -> CommitState:
        """Commit the replayed changelog: WAL append + touched-bucket
        snapshot rewrite + atomic commit, as ONE Spark action for every
        pk-table layout (see _commit_single_action; partitioned tables
        emit partition dirs on both siblings, auto-increment tables
        pre-assign id segments from a persisted fold).

        With `table.snapshot.defer-commits` = K > 1 the commit is
        WAL-ONLY (the RocksDB model: the write path absorbs puts, a
        periodic checkpoint materializes — server/kv/snapshot/) and
        every K-th commit folds the accumulated tail into the snapshot
        via materialize(); reads stay exact throughout because
        snapshot() merges the uncovered tail on top."""
        defer = int(
            self.schema.properties.get("table.snapshot.defer-commits", "1") or "1"
        )
        if defer > 1:
            state = self._commit_wal_only(spark, changelog, commit_ts_ms)
            if (
                state.version - max(state.snapshot_version, 0) >= defer
                or self._tail_bytes_exceeded(state)
            ):
                state = self.materialize(spark)
            return state
        # AQE is already off here for the fixed-shape commit plan (hash
        # by bucket -> window -> explode -> partitioned write): the
        # caller (upsert) scopes it off around the whole serial
        # transaction — A/B at sf0.1: warm commit 1.4s -> 1.0s from the
        # commit action alone, plus the discovery job's replan on top.
        return self._commit_single_action(
            spark, changelog, commit_ts_ms, batch_buckets, pair_scope, prior_frame,
            prior_included,
        )

    def _commit_wal_only(
        self, spark: SparkSession, changelog: DataFrame, commit_ts_ms: int | None
    ) -> CommitState:
        """Deferred commit (table.snapshot.defer-commits > 1): the WAL
        append IS the whole commit — one bucket-clustered write, no
        snapshot sibling, snapshot_version untouched. The reference
        analog is exact: KvTablet.putAsLeader appends the WAL and puts
        into RocksDB (which absorbs writes in-memory/L0); the periodic
        snapshot (server/kv/snapshot/) is a separate checkpoint. Here
        the 'memtable' is virtual — snapshot() folds the uncovered WAL
        tail on top of the last materialized snapshot at read time — so
        a crash after this commit loses nothing: the WAL is durable and
        every read path re-derives the same state."""
        schema = self.schema
        wal_order = [SEQ_COL, SUB_COL] + schema.primary_key
        auto_override = None
        stamp_persist = None
        if any(f.auto_increment for f in schema.fields):
            # insert-stable ids against the CURRENT state (the hybrid
            # snapshot feeds the stored-id join, so ids minted in the
            # uncovered tail carry through later deferred commits)
            stamp_persist = changelog.persist()
            changelog, auto_override = self._stamp_autoinc_baseline(
                spark, stamp_persist
            )
        try:
            state = self.log.append(
                changelog,
                ordering=wal_order,
                extra_cols=[CHANGE_TYPE_COL, SEQ_COL, SUB_COL],
                commit_ts_ms=commit_ts_ms,
                defer_commit=True,
                auto_increment_override=auto_override,
            )
        finally:
            if stamp_persist is not None:
                stamp_persist.unpersist()
        self.log.publish(state.version)
        self.catalog.commit(self.db, self.table, state)
        return state

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
        local, remote = self.log.committed_dirs()
        total = 0
        for name, path in list(remote.items()) + list(local.items()):
            if int(name.split("=")[1]) <= state.snapshot_version:
                continue
            for r, _d, files in os.walk(path):
                for fn in files:
                    total += os.path.getsize(os.path.join(r, fn))
                    if total > limit:
                        return True
        return False

    def materialize(self, spark: SparkSession) -> CommitState:
        """Fold the WAL tail into the materialized snapshot — the
        periodic-checkpoint half of the deferred-commit mode (reference
        analog: server/kv/snapshot/'s RocksDB checkpoint upload). Only
        the (partition, bucket) units the tail touched are rewritten —
        discovered DRIVER-SIDE from the tail commit dirs' names (zero
        Spark jobs for discovery); every other unit keeps its old
        manifest entry as untouched bytes. Commits a new version with no
        WAL dir (the same sparse-version shape log compaction uses).
        Amortization is the point: K deferred commits spraying keys over
        P units cost ONE rewrite of each touched unit instead of K.

        Crash-safe: the data-dir write and manifest write are invisible
        until meta/CURRENT advances; a crash in between leaves orphans
        the next materialization overwrites (same version number — the
        tail is still uncovered, so version/state are unchanged)."""
        import shutil
        import time

        schema = self.schema
        state = self.catalog.current_commit(self.db, self.table)
        start = self._tail_start(state)
        if start is None:
            return state
        version = state.version + 1
        pcols = schema.partition_keys

        # touched units from the tail dirs' names: commit dirs with
        # version > snapshot_version are wholly uncovered (a
        # materialization at M records the full HWM at M)
        local, remote = self.log.committed_dirs()
        touched: set = set()
        for name, path in list(remote.items()) + list(local.items()):
            if int(name.split("=")[1]) > state.snapshot_version:
                touched.update(self._walk_pairs(path))
        buckets = sorted({b for _pp, b in touched})

        # bound the base read to the touched units (same pair predicate
        # + manifest-key pruning shapes the upsert seed uses)
        old_manifest = self._manifest(state.snapshot_version) or {}
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
            pair_keys = [k for k in old_manifest if k in touched]

        tail = self._tail_scan(spark, start, None, buckets, None)
        base = self._materialized(
            spark, state.snapshot_version, buckets, pair_pred, pair_keys
        )
        final = self._merge_tail(base, tail)

        data_dir = f"data-v{version}"
        os.makedirs(self.snapshot_dir, exist_ok=True)
        dst = os.path.join(self.snapshot_dir, data_dir)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        (
            final.withColumn(BUCKET_COL, self._bucket_expr())
            .repartition(min(schema.num_buckets, 32), F.col(BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(*pcols, BUCKET_COL)
            .parquet(dst)
        )

        new_manifest = dict(old_manifest)
        dir_pairs = None
        if pcols:
            snap_pairs = set(self._walk_pairs(dst))
            for pair in touched:
                if pair in snap_pairs:
                    new_manifest[pair] = data_dir
                else:  # every key of the pair deleted in the tail
                    new_manifest.pop(pair, None)
            dir_pairs = dict(self._manifest_dir_pairs(state.snapshot_version))
            dir_pairs[data_dir] = sorted(snap_pairs)
        else:
            # mirror the partitioned prune: a bucket whose every key was
            # deleted in the tail wrote no __bucket dir — drop its entry
            # instead of pointing it at the new (empty-for-it) data dir
            snap_buckets = {b for _pp, b in self._walk_pairs(dst)}
            for _pp, bkt in touched:
                if bkt in snap_buckets:
                    new_manifest[bkt] = data_dir
                else:
                    new_manifest.pop(bkt, None)

        self._write_manifest(version, new_manifest, dir_pairs)
        new_state = CommitState(
            version=version,
            log_hwm=state.log_hwm,
            snapshot_version=version,
            auto_increment=state.auto_increment,
            ts_ms=int(time.time() * 1000),
            log_start=state.log_start,
            log_floor=state.log_floor,
        )
        self.catalog.commit(self.db, self.table, new_state)
        return new_state

    def _commit_single_action(
        self,
        spark: SparkSession,
        changelog: DataFrame,
        commit_ts_ms: int | None,
        batch_buckets: list[int] | None,
        pair_scope=None,
        prior_frame: DataFrame | None = None,
        prior_included: bool = False,
    ) -> CommitState:
        """One write action produces the WAL and the snapshot as sibling
        partition dirs (__dest=w / __dest=s), fused into a single
        bucket-window pass:

          - events (change rows) union prior-snapshot rows (seq=-1, so
            they sort before any event of their key) hash into buckets;
            the prior feed is always bounded to the batch's buckets
            (discovered in _fold_input) — O(touched buckets), never
            O(table);
          - one window over (bucket) ordered (seq, sub, pk) assigns
            per-bucket WAL offsets (running event count + old HWM), so
            offset order within a bucket IS batch-arrival order across
            keys, matching the reference WAL (LogTablet.java appends in
            arrival order) and the two-pass path; a second frame over
            (bucket, pk) flags each key's LAST row (max fold position)
            — same exchange, one extra in-memory sort;
          - routing: event -> WAL; last event that is not -D -> WAL +
            snapshot (an explode of the same evaluated row — the two
            copies cannot diverge, which is what the old WAL-first
            staged-file barrier existed to guarantee); prior row that
            stayed last (key untouched) -> snapshot, but only in buckets
            that saw >=1 event (max-over-bucket window) — untouched
            buckets keep their old manifest entry and cost no I/O.

        Partitioned tables put their partition dirs ABOVE the bucket
        dirs on BOTH siblings (partitionBy(__dest, <parts>, __bucket)):
        __dest=w matches the WAL's staged layout verbatim, and __dest=s
        gives pk snapshots partition-directory pruning (the reference
        layers partitions above buckets the same way,
        metadata/TableBucket.java, TableDescriptor.java:74).

        Auto-increment ids are stamped INSIDE the commit window with the
        reference's insert-stable semantics (ids assigned only in
        applyInsert, KvTablet.java:763-775): the fold is persisted, one
        tiny count job packs per-bucket id segments gap-free in bucket
        order from the +I counts (AutoIncrementManager's
        BoundedSegmentSequenceGenerator model), each +I event mints
        segment_base[bucket] + its running insert count, and every other
        row of the key — -U before-images, +U after-images, -D images,
        and the snapshot copy — CARRIES the key's current id via a
        last-non-null window anchored on the +I stamp and the
        prior-snapshot row's stored value. A key's id therefore never
        changes across updates, and only a delete + re-insert mints a
        new one.

        The driver then renames __dest=w to the log staging dir and
        __dest=s to snapshot/data-vN — metadata-only moves. Snapshot
        copies null out the WAL system columns (_change_type, __seq,
        __sub, __offset, __timestamp): no reader consumes them on the
        snapshot surface and real values would bloat every snapshot file
        and leak into lake-export schemas built from footers.

        The reference analog: the WAL *is* the changelog — one append
        (KvTablet.java:562-591), with the snapshot (RocksDB state) fed
        from the same merge pass, not re-derived."""
        import time

        self.log.clean_orphans()
        state0 = self.catalog.current_commit(self.db, self.table)
        version = state0.version + 1
        ts_ms = commit_ts_ms if commit_ts_ms is not None else int(time.time() * 1000)
        out, persisted, auto_next = self._commit_plan(
            spark, changelog, ts_ms, batch_buckets, pair_scope, state0, prior_frame,
            prior_included,
        )
        combined = os.path.join(self.log.tmp_dir, f"commit-v{version}")
        self._write_combined(out, combined, persisted)
        return self._commit_finish(spark, combined, state0, version, ts_ms, auto_next)

    def _commit_group(
        self,
        spark: SparkSession,
        changelog: DataFrame,
        ts_list: list[int],
        batch_buckets: list[int] | None,
        pair_scope,
        prior_frame: DataFrame | None,
        grp_count: int,
    ) -> list[CommitState]:
        """Publish a grouped fold (see upsert_many) as `grp_count`
        commit versions from ONE write action: the WAL side is
        partitioned by `__g`, each sub-dir renames into its own commit
        dir; only the LAST version materializes the snapshot —
        intermediate versions are WAL-only states (the deferred-commit /
        compaction sparse-version shape the read paths already serve)."""
        self.log.clean_orphans()
        state0 = self.catalog.current_commit(self.db, self.table)
        out, persisted, _auto = self._commit_plan(
            spark, changelog, ts_list, batch_buckets, pair_scope, state0,
            prior_frame, prior_included=True, grp_count=grp_count,
        )
        combined = os.path.join(self.log.tmp_dir, f"commit-v{state0.version + 1}")
        self._write_combined(out, combined, persisted, grouped=True)
        return self._commit_finish_group(
            spark, combined, state0, ts_list, grp_count
        )

    def _commit_plan(
        self,
        spark: SparkSession,
        changelog: DataFrame,
        ts_ms: int | list[int],
        batch_buckets: list[int] | None,
        pair_scope,
        state0: CommitState,
        prior_frame: DataFrame | None = None,
        prior_included: bool = False,
        grp_count: int | None = None,
    ):
        """Build the fused commit-output frame (see _commit_single_action)
        against a given base state. Returns (out frame, persisted handle
        to unpersist after the write, advanced auto-increment map). Pure
        plan construction — no writes, no metadata mutation — so the
        optimistic path can run it (and the write) outside the table
        lock.

        `prior_included=True` is the single-exchange contract
        (_fold_input fused=True + replay emit_prior=True): the changelog
        already carries `__bucket`, is hash-partitioned by it, and
        includes the prior-snapshot rows as NULL-change-type records —
        so this plan adds NO exchange, no second snapshot scan and no
        bucket recomputation; its windows reuse the fold's partitioning."""
        schema = self.schema
        pk, cols = schema.primary_key, schema.data_columns()
        old_manifest = self._manifest(state0.snapshot_version) or {}
        grouped = grp_count is not None
        if grouped:
            # group gate (upsert_many) excludes these shapes
            assert prior_included and not any(
                f.auto_increment for f in schema.fields
            ), "group commit requires the fused fold and no auto-increment"

        # Everything below builds the plan from WHOLE-SELECT SQL strings
        # (selectExpr / one JVM parse each) instead of per-column Column
        # calls: profiling showed ~2.9k py4j round trips (~1s of driver
        # wall) per commit, dominated by expression construction.
        qcols = [f"`{c}`" for c in cols]
        # Spark-SQL DDL type strings (the schema's own are engine DDL)
        declared = {f.name: parse_type(f.type).simpleString() for f in schema.fields}
        bucket_sql = (
            f"CAST(pmod(hash({', '.join(f'`{c}`' for c in schema.bucket_keys)}), "
            f"{schema.num_buckets}) AS INT)"
        )

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
                .selectExpr(
                    f"`{BUCKET_COL}` AS b" if prior_included else f"{bucket_sql} AS b"
                )
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
                if seg:
                    pairs = ", ".join(
                        f"{b}, CAST({s} AS BIGINT)" for b, s in seg.items()
                    )
                    id_expr[c] = (
                        f"coalesce(element_at(map({pairs}), `{BUCKET_COL}`), "
                        f"CAST({base_id} AS BIGINT))"
                    )
                else:
                    id_expr[c] = f"CAST({base_id} AS BIGINT)"

        sys_cast = [
            f"`{CHANGE_TYPE_COL}`",
            f"CAST(`{SEQ_COL}` AS BIGINT) AS `{SEQ_COL}`",
            f"CAST(`{SUB_COL}` AS INT) AS `{SUB_COL}`",
        ]
        ev = changelog.selectExpr(
            *[f"CAST(`{c}` AS {declared[c]}) AS `{c}`" for c in cols],
            *sys_cast,
            *([f"`{BUCKET_COL}`"] if prior_included else []),
            *([f"`{GRP_COL}`"] if grouped else []),
        )
        if old_manifest and not prior_included:
            # prior rows of the candidate buckets ride the same window;
            # a prior row that is still the last row of its key (no
            # events) is the survivor the two-pass path found by
            # anti-join. seq=-1 sorts prior rows before every event of
            # their key and loses the per-key max to any event. On
            # partitioned tables the typed pair predicate additionally
            # bounds the feed to the batch's (partition, bucket) pairs.
            pair_pred, pair_keys = pair_scope if pair_scope else (None, None)
            # reuse the fold's bounded-snapshot frame when the caller
            # provides it: same plan, one analysis, and the seed + prior
            # feed are guaranteed the same basis
            prior = (
                prior_frame
                if prior_frame is not None
                else self.snapshot(
                    spark,
                    buckets=batch_buckets,
                    pair_pred=pair_pred,
                    pair_keys=pair_keys,
                )
            )
            old = prior.selectExpr(
                *qcols,
                f"CAST(NULL AS STRING) AS `{CHANGE_TYPE_COL}`",
                f"CAST(-1 AS BIGINT) AS `{SEQ_COL}`",
                f"CAST(-1 AS INT) AS `{SUB_COL}`",
            )
            ev = ev.unionByName(old)

        pk_sql = ", ".join(f"`{c}`" for c in pk)
        # arrival-order window: offsets follow (seq, sub, pk) — the fold
        # sequence = batch arrival — so cross-key WAL order matches the
        # reference contract and the two-pass path exactly. Group commit
        # prefixes the batch index: offsets run batch-major, exactly the
        # cumulative bases N sequential commits would assign.
        grp_ord = f"`{GRP_COL}`, " if grouped else ""
        over = (
            f"PARTITION BY `{BUCKET_COL}` ORDER BY {grp_ord}`{SEQ_COL}`, "
            f"`{SUB_COL}`, {pk_sql}"
        )
        is_event = f"(`{CHANGE_TYPE_COL}` IS NOT NULL)"
        base = {int(b): off for b, off in state0.log_hwm.items()}
        # one map literal, not an O(buckets) when-chain: constant
        # expression/codegen depth at any bucket count (same shape as
        # table.py snapshot_diff's bound map)
        if base:
            pairs = ", ".join(f"{b}, CAST({off} AS BIGINT)" for b, off in base.items())
            base_sql = f"coalesce(element_at(map({pairs}), `{BUCKET_COL}`), CAST(0 AS BIGINT))"
        else:
            base_sql = "CAST(0 AS BIGINT)"
        # running event count in arrival order — feeds the WAL offset
        rc = (
            f"count(CASE WHEN {is_event} THEN 1 END) OVER ({over} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        # last row of a key = its max fold position; computed on a
        # (bucket, pk) frame that shares the bucket exchange (hash(bucket)
        # clusters (bucket, pk) too) and costs one extra in-memory sort
        pos = (
            f"struct(`{GRP_COL}`, `{SEQ_COL}`, `{SUB_COL}`)"
            if grouped
            else f"struct(`{SEQ_COL}`, `{SUB_COL}`)"
        )
        is_last = f"({pos} = max({pos}) OVER (PARTITION BY `{BUCKET_COL}`, {pk_sql}))"
        if not prior_included:
            ev = ev.selectExpr("*", f"{bucket_sql} AS `{BUCKET_COL}`")
            # the bucket window's exchange sized to the table's bucket
            # count, not spark.sql.shuffle.partitions: PARTITION BY bucket
            # caps the usable parallelism at num_buckets (the reference
            # runs exactly one leader per bucket), so any extra shuffle
            # partitions are guaranteed-empty tasks that still pay
            # scheduling + file-commit setup in the write stage.
            # hash(bucket) into num_buckets satisfies the window's
            # required distribution, so no second exchange is added.
            # (prior_included: the changelog arrives already hash-
            # partitioned by __bucket from the fold's exchange — adding
            # either node here would re-shuffle for nothing.)
            ev = ev.repartition(schema.num_buckets, F.col(BUCKET_COL))
        carried: dict[str, str] = {}
        if id_expr:
            # insert-stable ids (reference M10 semantics): a fresh id is
            # minted only at a +I event — segment base + the bucket's
            # running INSERT count (same arrival order as the offsets).
            # Every other row of the key CARRIES its current id: the
            # anchor column is the stamp on +I rows and the stored value
            # on prior-snapshot rows (seq=-1, sorts first), so a
            # last-non-null over (bucket, pk) in fold order gives -U
            # before-images the id the row really had, +U after-images
            # the same id, and a key re-inserted after an in-batch -D a
            # fresh id (the new +I re-anchors). Staged as a real column:
            # the carry window cannot nest the running-count window.
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
                carried[c] = f"last(`__id_anchor_{i}`, true) OVER ({carry_over})"
        data_proj = [
            (
                f"CASE WHEN {is_event} THEN CAST({carried[c]} AS BIGINT) "
                f"ELSE `{c}` END AS `{c}`"
                if c in carried
                else f"`{c}`"
            )
            for c in cols
        ]
        if grouped:
            # per-batch commit timestamps (sequential commits stamp each
            # batch at its own commit time)
            ts_pairs = ", ".join(
                f"{g}, timestamp_millis({t})" for g, t in enumerate(ts_ms)
            )
            ts_sql = f"element_at(map({ts_pairs}), `{GRP_COL}`)"
        else:
            ts_sql = f"timestamp_millis({ts_ms})"
        ev = ev.selectExpr(
            *data_proj,
            f"`{CHANGE_TYPE_COL}`",
            f"`{SEQ_COL}`",
            f"`{SUB_COL}`",
            f"CAST(CASE WHEN {is_event} THEN "
            f"{rc} - 1 + ({base_sql}) "
            f"END AS BIGINT) AS `{OFFSET_COL}`",
            f"CASE WHEN {is_event} THEN {ts_sql} END AS `{TIMESTAMP_COL}`",
            # window expressions must be plain columns before the
            # generator below: Spark rejects window functions in explode()
            f"{is_last} AS __is_last",
            # the snapshot-rewrite unit is the (partition, bucket) PAIR
            # on partitioned tables (reference TableBucket granularity):
            # a prior row survives into the new dir only if ITS pair saw
            # an event — other partitions of the same bucket stay as
            # untouched bytes behind their old manifest entries
            f"(max(CAST({is_event} AS INT)) OVER (PARTITION BY "
            + ", ".join(
                [f"`{BUCKET_COL}`"] + [f"`{c}`" for c in schema.partition_keys]
            )
            + ") = 1) AS __touched",
            f"`{BUCKET_COL}`",
            *([f"`{GRP_COL}`"] if grouped else []),
        )
        # routing + system-column shaping in ONE plan node: the 0-2
        # destination copies of each row are FLAT structs unpacked by
        # inline() in the same select that builds them (array_compact
        # drops rows with no destination). The 's' copy carries NO WAL
        # system-column values: nulls compress to nothing, and lake
        # exports (schema from parquet footers) must not see real values
        # on the snapshot surface.
        # group commit: '__g' (the struct field, unpacked by inline into
        # a real column) routes each WAL copy to its batch's commit dir;
        # the snapshot copy belongs to the group's LAST version
        w_grp = f", '__g', `{GRP_COL}`" if grouped else ""
        s_grp = f", '__g', CAST({(grp_count or 1) - 1} AS INT)" if grouped else ""
        w_struct = (
            f"named_struct('{CHANGE_TYPE_COL}', `{CHANGE_TYPE_COL}`, "
            f"'{SEQ_COL}', `{SEQ_COL}`, '{SUB_COL}', `{SUB_COL}`, "
            f"'{OFFSET_COL}', `{OFFSET_COL}`, "
            f"'{TIMESTAMP_COL}', `{TIMESTAMP_COL}`{w_grp}, '{DEST_COL}', 'w')"
        )
        s_struct = (
            f"named_struct('{CHANGE_TYPE_COL}', CAST(NULL AS STRING), "
            f"'{SEQ_COL}', CAST(NULL AS BIGINT), '{SUB_COL}', CAST(NULL AS INT), "
            f"'{OFFSET_COL}', CAST(NULL AS BIGINT), "
            f"'{TIMESTAMP_COL}', CAST(NULL AS TIMESTAMP){s_grp}, '{DEST_COL}', 's')"
        )
        slot_w = f"CASE WHEN {is_event} THEN {w_struct} END"
        slot_s = (
            f"CASE WHEN __is_last AND (({is_event} AND "
            f"`{CHANGE_TYPE_COL}` != '{DELETE}') OR (NOT {is_event} AND __touched)) "
            f"THEN {s_struct} END"
        )
        out = ev.selectExpr(
            *qcols,
            f"inline(array_compact(array({slot_w}, {slot_s})))",
            f"`{BUCKET_COL}`",
        )

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
        version: int,
        ts_ms: int,
        auto_next: dict[str, int],
        touched_override=None,
    ) -> CommitState:
        """Publish a written combined dir as commit `version` on top of
        `base_state`: rename the siblings into place, advance the HWMs
        and manifest RELATIVE TO base_state, then commit atomically. The
        serial path passes base_state = the state the plan was built
        against; the optimistic path passes the CURRENT state after
        validating the plan's base is still compatible with it
        (disjoint units, see upsert_optimistic)."""
        import shutil

        schema = self.schema
        state0 = base_state
        old_manifest = self._manifest(state0.snapshot_version) or {}

        # driver-side publish prep: sibling dirs -> their destinations
        staged = self.log.staging_path(version)
        wal_part = os.path.join(combined, f"{DEST_COL}=w")
        if os.path.isdir(wal_part):
            if os.path.exists(staged):
                shutil.rmtree(staged)
            os.rename(wal_part, staged)
        else:  # no change events at all (e.g. deletes of absent keys)
            os.makedirs(staged, exist_ok=True)

        hwm = dict(state0.log_hwm)
        per_bucket = self._footer_hwm_or_read(spark, staged)
        for bkt, mx in per_bucket.items():
            hwm[str(bkt)] = mx + 1
        # the snapshot-rewrite unit: buckets (unpartitioned) or
        # (partition path, bucket) pairs (partitioned) — both read off
        # the staged WAL's directory names, zero extra jobs. Group
        # commit passes the UNION over every batch's staged dirs (the
        # final data dir holds rows for units any batch touched).
        if touched_override is not None:
            touched = sorted(touched_override)
        elif schema.partition_keys:
            touched = self._walk_pairs(staged)
        else:
            touched = sorted(per_bucket)

        new_manifest = dict(old_manifest)
        dir_pairs = None
        if touched:
            data_dir = f"data-v{version}"
            os.makedirs(self.snapshot_dir, exist_ok=True)
            dst = os.path.join(self.snapshot_dir, data_dir)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            snap_part = os.path.join(combined, f"{DEST_COL}=s")
            if os.path.isdir(snap_part):
                os.rename(snap_part, dst)
            else:  # every key of the touched buckets was deleted
                os.makedirs(dst)
            if schema.partition_keys:
                # a touched pair with no surviving rows (all its keys
                # deleted) leaves the manifest entirely
                snap_pairs = set(self._walk_pairs(dst))
                for pair in touched:
                    if pair in snap_pairs:
                        new_manifest[pair] = data_dir
                    else:
                        new_manifest.pop(pair, None)
                dir_pairs = dict(
                    self._manifest_dir_pairs(state0.snapshot_version)
                )
                dir_pairs[data_dir] = sorted(snap_pairs)
            else:
                # same prune as the partitioned arm: a touched bucket
                # with no surviving rows leaves the manifest
                snap_buckets = {b for _pp, b in self._walk_pairs(dst)}
                for bkt in touched:
                    if bkt in snap_buckets:
                        new_manifest[bkt] = data_dir
                    else:
                        new_manifest.pop(bkt, None)
        elif schema.partition_keys:
            dir_pairs = self._manifest_dir_pairs(state0.snapshot_version)
        shutil.rmtree(combined, ignore_errors=True)

        self._write_manifest(version, new_manifest, dir_pairs)
        new_state = CommitState(
            version=version,
            log_hwm=hwm,
            snapshot_version=version,
            auto_increment=auto_next,
            ts_ms=ts_ms,
            log_start=state0.log_start,
            log_floor=state0.log_floor,
        )
        self.log.publish(version)
        self.catalog.commit(self.db, self.table, new_state)
        return new_state

    def _commit_finish_group(
        self,
        spark: SparkSession,
        combined: str,
        state0: CommitState,
        ts_list: list[int],
        grp_count: int,
    ) -> list[CommitState]:
        """Publish a grouped combined dir as `grp_count` commit versions
        on top of state0. Versions v+1..v+N-1 are WAL-only states (their
        __g sub-dir renames into the commit dir; snapshot_version stays
        at the base — exactly the shape _commit_wal_only publishes, which
        every read path serves via the offset-bounded tail fold); the
        final version routes through _commit_finish with the touched-unit
        UNION of all batches, so the manifest/data-dir handling (pair
        pruning, partitioned dir_pairs) is the single-commit code."""
        import shutil

        schema = self.schema
        hwm = dict(state0.log_hwm)
        states: list[CommitState] = []
        touched_union: set = set()
        w_root = os.path.join(combined, f"{DEST_COL}=w")
        for g in range(grp_count - 1):
            version = state0.version + 1 + g
            staged = self.log.staging_path(version)
            wal_part = os.path.join(w_root, f"__g={g}")
            if os.path.isdir(wal_part):
                if os.path.exists(staged):
                    shutil.rmtree(staged)
                os.rename(wal_part, staged)
            else:  # batch produced no change events
                os.makedirs(staged, exist_ok=True)
            per_bucket = self._footer_hwm_or_read(spark, staged)
            for bkt, mx in per_bucket.items():
                hwm[str(bkt)] = mx + 1
            if schema.partition_keys:
                touched_union.update(self._walk_pairs(staged))
            else:
                touched_union.update(per_bucket)
            st = CommitState(
                version=version,
                log_hwm=dict(hwm),
                snapshot_version=state0.snapshot_version,
                auto_increment=dict(state0.auto_increment),
                ts_ms=ts_list[g],
                log_start=state0.log_start,
                log_floor=state0.log_floor,
            )
            self.log.publish(version)
            self.catalog.commit(self.db, self.table, st)
            states.append(st)

        # restructure to the single-commit layout (__dest=w/__dest=s hold
        # the LAST batch's WAL and the group's final snapshot) and reuse
        # _commit_finish for the materializing version
        last = grp_count - 1
        wal_last = os.path.join(w_root, f"__g={last}")
        if os.path.isdir(wal_last):
            tmp_w = os.path.join(combined, "__w_final")
            os.rename(wal_last, tmp_w)
            shutil.rmtree(w_root, ignore_errors=True)
            os.rename(tmp_w, w_root)
            if schema.partition_keys:
                touched_union.update(self._walk_pairs(w_root))
            else:
                touched_union.update(
                    self._footer_hwm_or_read(spark, w_root)
                )
        else:
            shutil.rmtree(w_root, ignore_errors=True)
        s_root = os.path.join(combined, f"{DEST_COL}=s")
        s_last = os.path.join(s_root, f"__g={last}")
        if os.path.isdir(s_last):
            tmp_s = os.path.join(combined, "__s_final")
            os.rename(s_last, tmp_s)
            shutil.rmtree(s_root, ignore_errors=True)
            os.rename(tmp_s, s_root)
        base = states[-1] if states else state0
        final = self._commit_finish(
            spark,
            combined,
            base,
            state0.version + grp_count,
            ts_list[-1],
            dict(state0.auto_increment),
            touched_override=touched_union,
        )
        states.append(final)
        return states

    def _footer_hwm_or_read(self, spark: SparkSession, staged: str) -> dict[int, int]:
        """Per-bucket max(__offset) of the staged WAL — Parquet footers
        (driver-side, O(files)) with a Spark fallback for stat-less
        files."""
        per_bucket = self.log._footer_hwm(staged)
        if per_bucket is None:
            per_bucket = {
                int(r[BUCKET_COL]): int(r["mx"])
                for r in spark.read.schema(ddl_of(self.log.file_schema()))
                .option("basePath", staged)
                .parquet(staged)
                .groupBy(BUCKET_COL)
                .agg(F.max(OFFSET_COL).alias("mx"))
                .collect()
            }
        return per_bucket

    def _stamp_autoinc_baseline(
        self, spark: SparkSession, changelog: DataFrame
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
        from fluss_spark.sources.log import _bucket_map_expr

        schema, pk = self.schema, self.schema.primary_key
        auto_cols = [f.name for f in schema.fields if f.auto_increment]
        auto_next = dict(self.catalog.current_commit(self.db, self.table).auto_increment)
        orig_cols = list(changelog.columns)
        ev = changelog.withColumn(BUCKET_COL, self._bucket_expr())

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
            self.snapshot(spark, buckets=batch_buckets)
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

    def _commit_twopass(
        self, spark: SparkSession, changelog: DataFrame, commit_ts_ms: int | None
    ) -> CommitState:
        """WAL append + touched-bucket snapshot rewrite + atomic commit.
        Retained as the equivalence BASELINE the test suite compares the
        single-action path against (tests/test_commit_equivalence.py);
        no production route dispatches here anymore.

        WAL-FIRST: the fold plan is computed exactly ONCE — inside the
        WAL write job — and the STAGED WAL FILES are the lineage cut.
        The snapshot derivation re-reads those files (metadata-listed,
        bucket-pruned), so it can never diverge from what was appended
        even if the input DataFrame is non-deterministic: the file is
        the record. This replaces the old eager localCheckpoint barrier
        (one extra full materialization + its scheduling round-trips per
        commit — ~25% of the steady-state commit constant) with the
        durable artifact the commit must produce anyway."""
        schema = self.schema
        pk = schema.primary_key

        # WAL append: per-bucket offsets ordered by the fold sequence.
        # All events of one key land in one bucket (bucket key ⊆ pk), so
        # per-key changelog order is preserved in offset order.
        old_hwm = {int(b): off for b, off in self.catalog.current_commit(self.db, self.table).log_hwm.items()}
        wal_order = [SEQ_COL, SUB_COL] + pk
        auto_override = None
        stamp_persist = None
        if any(f.auto_increment for f in schema.fields):
            # persist = barrier: the insert-count job and the WAL write
            # must see the same evaluated fold rows
            stamp_persist = changelog.persist()
            changelog, auto_override = self._stamp_autoinc_baseline(
                spark, stamp_persist
            )
        try:
            state = self.log.append(
                changelog,
                ordering=wal_order,
                extra_cols=[CHANGE_TYPE_COL, SEQ_COL, SUB_COL],
                commit_ts_ms=commit_ts_ms,
                defer_commit=True,
                auto_increment_override=auto_override,
            )
        finally:
            if stamp_persist is not None:
                stamp_persist.unpersist()
        version = state.version
        # the staged files ARE this commit's changelog (see docstring)
        staging = self.log.staging_path(version)
        changelog = (
            spark.read.schema(ddl_of(self.log.file_schema()))
            .option("basePath", staging)
            .parquet(staging)
        )

        # touched buckets = high-watermark diff — no extra Spark job
        touched_buckets = [
            int(b) for b, off in state.log_hwm.items() if off != old_hwm.get(int(b))
        ]

        old_manifest = self._manifest(
            self.catalog.current_commit(self.db, self.table).snapshot_version
        ) or {}
        new_manifest = dict(old_manifest)

        if touched_buckets:
            from fluss_spark.operators.replay import _snapshot_from_changelog

            # last change event per key in (seq, sub) order — per key
            # identical to WAL-offset order (wal_order above sorts by it)
            touched_final = _snapshot_from_changelog(changelog, schema)
            touched_keys = changelog.select(*pk)  # anti join dedups
            # only the touched buckets are rewritten; a key whose last
            # event is -D must not survive via the old rows (anti-join on
            # ALL keys with change events)
            old_rows = self.snapshot(spark, buckets=touched_buckets)
            untouched_keys = old_rows.join(touched_keys, on=pk, how="left_anti")
            bucket_rows = untouched_keys.unionByName(touched_final)

            data_dir = f"data-v{version}"
            (
                bucket_rows.withColumn(BUCKET_COL, self._bucket_expr())
                .repartition(min(schema.num_buckets, 32), F.col(BUCKET_COL))
                .write.mode("overwrite")
                .partitionBy(*schema.partition_keys, BUCKET_COL)
                .parquet(os.path.join(self.snapshot_dir, data_dir))
            )
            if schema.partition_keys:
                # the baseline rewrites touched buckets WHOLE (across
                # partitions): every pair of a touched bucket remaps to
                # the new dir; pairs with no surviving rows drop out
                snap_pairs = set(
                    self._walk_pairs(os.path.join(self.snapshot_dir, data_dir))
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
                self._manifest_dir_pairs(
                    self.catalog.current_commit(self.db, self.table).snapshot_version
                )
            )
            if touched_buckets:
                dir_pairs[data_dir] = sorted(snap_pairs)
            self._write_manifest(version, new_manifest, dir_pairs)
        else:
            self._write_manifest(version, new_manifest)
        state.snapshot_version = version
        self.log.publish(version)
        self.catalog.commit(self.db, self.table, state)
        return state

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
        dir pruning — the partitioned lookup path) and bounds the tail scan the
        same way. Partitioned tables: `pair_pred` is a typed predicate
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
        if version < 0 or self._manifest(version) is not None:
            return self._materialized(spark, version, buckets, pair_pred, pair_keys)
        if version > state.version:
            raise ValueError(f"no such commit version: {version}")
        # WAL-only (deferred) version: nearest older manifest + the
        # changelog slice between its HWM and this version's HWM
        m = self._nearest_manifest_version(version)
        base = self._materialized(spark, m, buckets, pair_pred, pair_keys)
        start = self._hwm_at(m) if m >= 0 else {}
        end = self._hwm_at(version)
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
        snap_hwm = self._hwm_at(state.snapshot_version)
        return None if snap_hwm == cur else snap_hwm

    def _hwm_at(self, version: int) -> dict[int, int]:
        """Per-bucket log HWM recorded at a commit version (memoized —
        commit states are immutable once written)."""
        cached = self._hwm_cache.get(version)
        if cached is None:
            st = self.catalog.commit_at(self.db, self.table, version)
            cached = {int(b): o for b, o in st.log_hwm.items()}
            self._hwm_cache[version] = cached
        return dict(cached)

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
                # applicationId, not id(spark): ids can be reused by a
                # new session after GC (see registry.session_key)
                key = (tuple(leaves), spark.sparkContext.applicationId)
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
        staleness."""
        key = (data_dir, id(spark))
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
        the owning bucket (see `_keyed_read`) and reads only that
        bucket's files from its one manifest data dir."""
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

        Unpartitioned tables read the bucket's Parquet files from the
        ONE data dir the manifest maps it to with pyarrow, the key
        equality pushed down as a row-group filter, and hand the rows to
        Spark as a local relation: `collect()` runs no job and compiles
        nothing. A deferred WAL tail merges on top through `_merge_tail`.
        Partitioned tables keep the shadow-aware pair scan, bounded to
        the bucket and the key's partition values."""
        schema = self.schema
        types = {f.name: parse_type(f.type) for f in schema.fields}
        state = self.catalog.current_commit(self.db, self.table)
        manifest = self._manifest(state.snapshot_version)
        if not manifest:
            return self.snapshot(spark).filter(self._key_cond(key))
        # a naive timestamp string means a time in the session zone
        tz = (
            spark.conf.get("spark.sql.session.timeZone")
            if any(isinstance(key[c], str) and isinstance(types[c], T.TimestampType) for c in key)
            else "UTC"
        )
        want = {c: to_internal(v, types[c], tz) for c, v in key.items()}
        if not all(exact(key[c], want[c], types[c]) for c in key):
            # the key is cast for routing only: a value the column cannot
            # hold (7.5 for an INT) equals no stored row
            return spark.createDataFrame([], schema.to_struct_type())
        bkt = bucket_of([key[c] for c in bucket_key], [types[c] for c in bucket_key], schema.num_buckets, tz)
        if schema.partition_keys:
            # pair-granular manifest: the key's partition values (typed
            # literals — Spark prunes partition dirs from them) plus the
            # bucket bound the read through the shadow-aware pair scan;
            # dirs not holding bucket `bkt` entries never enter the plan
            pred = F.col(BUCKET_COL) == F.lit(bkt)
            for c in schema.partition_keys:
                if c in key:
                    pred = pred & (F.col(c) == F.lit(key[c]).cast(types[c]))
            return self.snapshot(
                spark, buckets=[bkt], pair_pred=pred
            ).filter(self._key_cond(key))
        base = self._bucket_rows(spark, manifest.get(bkt), bkt, want, types)
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

    def _bucket_rows(self, spark, data_dir, bkt: int, want: dict, types: dict) -> DataFrame:
        """The rows of `<data_dir>/__bucket=<bkt>/` whose columns equal
        the `to_internal` key values `want`, read by pyarrow and returned
        as a local relation in the current schema. Schema-evolved (era)
        dirs are read in their physical layout, then mapped by
        `era_projection`."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        from fluss_spark.types import era_projection, era_struct_fields

        current = self.schema.to_struct_type()
        leaf = os.path.join(self.snapshot_dir, data_dir or "", f"{BUCKET_COL}={bkt}")
        files = sorted(glob.glob(os.path.join(glob.escape(leaf), "*.parquet"))) if data_dir else []
        if not files:
            return spark.createDataFrame([], current)
        era = self._era_for_dir(data_dir)
        phys = current if era is None else T.StructType(era_struct_fields(self.schema, era))
        # Spark writes TIMESTAMP_LTZ as INT96; read at micros, Spark's
        # own unit (nanos would overflow outside 1677..2262)
        parquet = ds.ParquetFileFormat(read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us"))
        dataset = ds.dataset(files, format=parquet)
        cond, nested = None, []
        for f in self.schema.fields:
            if f.name not in want:
                continue
            name = f.name if era is None else era[f.field_id][0]
            dt = types[f.name]
            if isinstance(dt, (T.ArrayType, T.StructType)):
                nested.append((name, dt, want[f.name]))  # arrow has no nested ==
                continue
            term = _arrow_eq(ds.field(name), want[f.name], dt, dataset.schema.field(name).type)
            cond = term if cond is None else cond & term
        target = to_arrow_schema(phys)
        present = [n for n in target.names if n in dataset.schema.names]
        table = dataset.to_table(columns=present, filter=cond)
        # columns added after the dir was written read as nulls; the cast
        # labels Spark's tz-naive INT96 timestamps as the UTC instants
        # they are (unlabelled, createDataFrame would shift them by the
        # session time zone)
        table = pa.Table.from_arrays(
            [
                table.column(f.name) if f.name in present else pa.nulls(table.num_rows, f.type)
                for f in target
            ],
            names=target.names,
        ).cast(target)
        for name, dt, value in nested:
            mask = [to_internal(v, dt) == value for v in table.column(name).to_pylist()]
            table = table.filter(pa.array(mask, pa.bool_()))
        if not table.num_rows:  # createDataFrame rejects nested columns with no chunks
            return spark.createDataFrame([], current)
        df = spark.createDataFrame(table, phys)
        return df if era is None else df.select(era_projection(self.schema, era, []))

    @staticmethod
    def _key_cond(key: dict[str, object]):
        cond = F.lit(True)
        for c, v in key.items():
            cond = cond & (F.col(c) == F.lit(v))
        return cond


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
    if isinstance(dt, T.DecimalType):
        value = pa.scalar(
            decimal.Decimal(f"{want}E-{dt.scale}"), pa.decimal128(dt.precision, dt.scale)
        )
    elif isinstance(dt, T.DateType):
        value = pa.scalar(want, pa.date32())
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        value = pa.scalar(want, pa.timestamp("us", tz=ftype.tz))
    else:
        value = pa.scalar(want)
    try:
        physical = value.cast(ftype)
    except pa.ArrowInvalid:  # out of range, or lossy for decimals
        return pc.scalar(False)
    if not physical.cast(value.type).equals(value):  # e.g. rounded to float32
        return pc.scalar(False)
    return field == physical
