"""Streaming read model (T1-T4): per-bucket offset subscription,
startup modes, hybrid snapshot→log handoff, exactly-once checkpoints.

Reference semantics:
  - subscription is per-bucket (bucket, startOffset)
    (client/table/scanner/log/LogScanner.java:69-131); a micro-batch =
    everything between the checkpointed offsets and the high
    watermarks of one commit state — exactly the reference's own Spark
    connector design (fluss-spark/.../read/FlussMicroBatchStream.scala:85-150).
    LogStore.slice_from fixes each slice and fences it (a rebucket, or
    changelog expired unread); the reader keeps its cursor and the
    checkpoint file
  - startup modes full/earliest/latest/timestamp
    (flink/source/FlinkConnectorOptionsUtils, spark FlussOffsetInitializers.scala:26-40)
  - PK tables in `full` mode: the snapshot at one pinned commit, then
    the changelog from that commit's offsets (T3,
    flink/source/split/HybridSnapshotLogSplit.java:37), so a commit
    landing after the pin arrives once, in the log
  - exactly-once: offsets checkpoint advances atomically AFTER the batch
    function returns; re-running a failed batch re-reads the same offset
    range (T7 — batch-id-keyed idempotence instead of writer-id dedup)

The poll loop runs on the driver but each batch is a native Parquet
scan planned by Catalyst — no data moves through Python.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluss_spark import fsops
from fluss_spark.sources.log import LogSlice, commit_dirs
from fluss_spark.table import FlussTable
from fluss_spark.types import CHANGE_TYPE_COL, INSERT

_REMEDY = "restart the reader with a fresh checkpoint dir"


class LogStreamReader:
    """Micro-batch reader over a table's log (LogScanner.poll analog)."""

    def __init__(
        self,
        table: FlussTable,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        startup_mode: str = "full",
        startup_timestamp_ms: int | None = None,
    ):
        self.table = table
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.startup_mode = startup_mode
        self.startup_timestamp_ms = startup_timestamp_ms
        # the cursor: offsets and the bucket epoch they belong to, both
        # unset until the first poll pins them
        self._offsets: dict[int, int] | None = None
        self._epoch: str | None = None
        self._batch_id = 0
        if checkpoint_dir:
            fsops.makedirs(checkpoint_dir)
            self._load_checkpoint()

    def _ckpt_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "offsets.json")

    def _load_checkpoint(self) -> None:
        p = self._ckpt_path()
        if os.path.exists(p):
            with open(p) as f:
                d = json.load(f)
            offsets, epoch = d["offsets"], d.get("epoch", "0")
            self.table.log.slice_from(offsets, epoch, _REMEDY)  # fence at resume
            self._offsets = {int(k): v for k, v in offsets.items()}
            self._epoch = epoch
            self._batch_id = d["batch_id"]

    def _save_checkpoint(self) -> None:
        if not self.checkpoint_dir:
            return
        fsops.write_atomic(
            self._ckpt_path(),
            json.dumps(
                {
                    "offsets": self._offsets,
                    "batch_id": self._batch_id,
                    "epoch": self._epoch,
                }
            ),
        )

    # -- polling ----------------------------------------------------------
    def poll(self) -> tuple[DataFrame, int] | None:
        """One micro-batch: (DataFrame, batch_id), or None if caught up.
        The checkpoint advances only on commit_batch()."""
        if self._offsets is None:
            return self._start()
        return self._batch(self.table.log.slice_from(self._offsets, self._epoch, _REMEDY))

    def _start(self) -> tuple[DataFrame, int] | None:
        """The first poll of a fresh subscription: pin a cursor, then
        place the start per the startup mode."""
        sl = self.table.log.slice_from(None, None, _REMEDY)
        self._epoch = sl.epoch
        mode = self.startup_mode
        if mode == "earliest" or (mode == "full" and self.table.kv is None):
            self._offsets = sl.start
            return self._batch(sl)
        if mode == "latest":
            self._offsets = sl.end
            return None
        if mode == "timestamp":
            if self.startup_timestamp_ms is None:
                raise ValueError("timestamp startup mode requires startup_timestamp_ms")
            self._offsets = self.table.offsets_for_timestamp(self.spark, self.startup_timestamp_ms)
            return self.poll()
        if mode == "full":
            # hybrid handoff batch 0: the KV snapshot at the pinned
            # commit as +I rows; the log resumes from its offsets
            self._offsets = self._end_of_batch = sl.end
            snap = self.table.snapshot(self.spark, version=sl.version)
            return snap.withColumn(CHANGE_TYPE_COL, F.lit(INSERT)), self._batch_id
        raise ValueError(f"unknown startup mode: {mode}")

    def _batch(self, sl: LogSlice) -> tuple[DataFrame, int] | None:
        if sl.empty:
            return None
        df = self.table.scan(self.spark, start_offsets=sl.start, end_offsets=sl.end)
        self._end_of_batch = sl.end
        return df, self._batch_id

    def commit_batch(self) -> None:
        """Advance offsets after the batch was durably processed."""
        self._offsets = self._end_of_batch
        self._batch_id += 1
        self._save_checkpoint()

    def process_available(
        self, fn: Callable[[DataFrame, int], None], max_batches: int = 1000
    ) -> int:
        """availableNow-style drain: poll → fn(batch_df, batch_id) →
        commit, until caught up. Returns batches processed."""
        n = 0
        for _ in range(max_batches):
            out = self.poll()
            if out is None:
                break
            df, bid = out
            fn(df, bid)
            self.commit_batch()
            n += 1
        return n


def read_stream(
    table: FlussTable, spark: SparkSession, static_tiers: bool = False
) -> DataFrame:
    """Native Structured Streaming DataFrame over the table's log dir
    (file-source discovers new commit dirs per trigger). In-flight
    writes are invisible: commit files are staged under the hidden
    <table>/.tmp dir and atomically renamed into log/ only at commit
    time (sources/log.py staged-commit protocol), so the file source
    only ever discovers fully committed data. Use for watermarked
    windowed aggregation / continuous pipelines (T5):

        sdf = read_stream(t, spark)
        agg = (sdf.withWatermark("__timestamp", "10 minutes")
                  .groupBy(F.window("__timestamp", "5 minutes")).count())
    """
    # S9 + file-source semantics: the file source tracks files by PATH,
    # so tier_log moving a watched file re-surfaces it under remote/ as
    # a NEW file (duplicate delivery), and adding/removing the remote
    # source across restarts changes the source count in the checkpoint
    # (recovery fails). A tiered table therefore needs either the
    # offset-based LogStreamReader (state-fenced scan() per micro-batch;
    # immune to moves — offsets are preserved), or an explicit promise
    # that no tiering will run for this stream's lifetime
    # (static_tiers=True: replay/analytics over a frozen table).
    remote_dirs = commit_dirs(table.log.remote_dir)
    tiered = (
        table.schema.properties.get("table.log.tiered.enable", "false") == "true"
        or bool(remote_dirs)
    )
    if tiered and not static_tiers:
        raise ValueError(
            "read_stream on a tiered table: file-source streams cannot "
            "survive tier_log moving segments (duplicate delivery / "
            "checkpoint source-count change). Use LogStreamReader "
            "(offset-based, tier-transparent), or pass static_tiers=True "
            "if no tiering will run while this stream is active."
        )
    from fluss_spark.types import evolution_eras

    eras = evolution_eras(table.schema)
    if eras:
        # a single readStream schema cannot map per-file eras: files
        # written before a rename/retype carry old physical names and
        # would silently surface NULLs. The offset-based LogStreamReader
        # goes through scan() per micro-batch and is era-transparent.
        # The era records themselves are permanent metadata, so gate on
        # the FILES, not the records: once no surviving commit dir (in
        # either tier) predates the newest era boundary — old segments
        # compacted, TTL-expired, or dropped — every file carries the
        # current schema and the file source is safe again.
        max_until = max(e["until"] for e in eras)
        if any(v <= max_until for v, _ in commit_dirs(table.log.log_dir) + remote_dirs):
            raise ValueError(
                "read_stream on a table with renamed/retyped columns: the "
                "file source reads one fixed schema and cannot resolve "
                "pre-alter files by field id. Use LogStreamReader "
                "(era-transparent); read_stream re-enables automatically "
                "once no surviving log segment predates the alter (after "
                "compact_log() on the local tier plus TTL expiry or "
                "tier cleanup of any pre-alter remote segments)."
            )
    schema = table.log.file_schema()
    sdf = (
        spark.readStream.schema(schema)
        .option("basePath", table.log.log_dir)
        .parquet(table.log.log_dir + "/*")
    )
    if tiered and remote_dirs:
        remote = (
            spark.readStream.schema(schema)
            .option("basePath", table.log.remote_dir)
            .parquet(table.log.remote_dir + "/*")
        )
        sdf = remote.unionByName(sdf)
    return sdf
