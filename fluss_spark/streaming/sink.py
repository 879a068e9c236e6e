"""Streaming write path: engine tables as exactly-once streaming sinks.

foreachBatch-style idempotent writers (T7): the engine commit records
the last applied (sink_id, batch_id); a replayed micro-batch (failure
recovery re-runs the epoch) is recognized and skipped — the same
guarantee the reference gets from writer-id + batch-sequence dedup
(client/write/IdempotenceManager.java, server/log/WriterStateManager.java).

Use with Structured Streaming:

    q = (stream_df.writeStream
         .foreachBatch(append_sink(table, "mysink"))
         .trigger(availableNow=True).start())

or with streaming/reader.py's process_available loop.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame

from fluss_spark import fsops
from fluss_spark.table import FlussTable


def _marker_path(table: FlussTable, sink_id: str) -> str:
    return os.path.join(
        table.catalog.table_dir(table.db, table.name), "meta", f"sink-{sink_id}.json"
    )


def _resolve_marker(table: FlussTable, sink_id: str) -> int:
    """Settle any PENDING epoch and return the last durably-applied
    batch id.

    Exactly-once needs the marker advance to be atomic with the engine
    commit, and they are two filesystem writes — so the marker is
    staged BEFORE the commit as a pending record carrying the commit
    version the write will create (the incremental-MT offset-handoff
    protocol). On recovery: if the table reached that version, the
    data commit landed and the pending epoch finalizes (replay skips
    it); if it didn't, the epoch never committed and the pending
    record is discarded (replay re-applies it). The old
    record-after-commit order had a crash window that DOUBLE-applied
    the epoch. Assumes the streaming query is the table's only writer
    while its batch is in flight (the reference's writer-id idempotence
    makes the same per-writer sequencing assumption,
    WriterStateManager.java)."""
    p = _marker_path(table, sink_id)
    if not os.path.exists(p):
        return -1
    with open(p) as f:
        m = json.load(f)
    pending = m.get("pending")
    if pending is not None:
        current = table.catalog.current_commit(table.db, table.name).version
        if current >= pending["expected_version"]:
            m = {"batch_id": pending["batch_id"], "pending": None}
        else:
            m = {"batch_id": m["batch_id"], "pending": None}
        fsops.write_atomic(p, json.dumps(m))
    return m["batch_id"]


def _stage_pending(table: FlussTable, sink_id: str, last: int, batch_id: int) -> None:
    expected = table.catalog.current_commit(table.db, table.name).version + 1
    fsops.write_atomic(
        _marker_path(table, sink_id),
        json.dumps(
            {"batch_id": last, "pending": {"batch_id": batch_id, "expected_version": expected}}
        ),
    )


def _finalize(table: FlussTable, sink_id: str, batch_id: int) -> None:
    fsops.write_atomic(
        _marker_path(table, sink_id), json.dumps({"batch_id": batch_id, "pending": None})
    )


def append_sink(
    table: FlussTable, sink_id: str, ordering: list[str] | None = None
) -> Callable[[DataFrame, int], None]:
    """Idempotent append sink for a log table."""

    def write(df: DataFrame, batch_id: int) -> None:
        last = _resolve_marker(table, sink_id)
        if batch_id <= last:
            return  # replayed epoch: already committed
        _stage_pending(table, sink_id, last, batch_id)
        table.append(df, ordering=ordering)
        _finalize(table, sink_id, batch_id)

    return write


def upsert_sink(
    table: FlussTable,
    sink_id: str,
    ordering: list[str] | None = None,
    partial_update_cols: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Idempotent upsert sink for a PK table (rows may carry __op)."""

    def write(df: DataFrame, batch_id: int) -> None:
        last = _resolve_marker(table, sink_id)
        if batch_id <= last:
            return
        _stage_pending(table, sink_id, last, batch_id)
        table.upsert(df, ordering=ordering, partial_update_cols=partial_update_cols)
        _finalize(table, sink_id, batch_id)

    return write


def to_upsert_view(changelog: DataFrame, pk: list[str]) -> DataFrame:
    """Collapse a changelog DataFrame (+I/-U/+U/-D with _log_offset) to
    its upsert view — latest surviving row per key. The consumer-side
    companion of the engine's own snapshot derivation (T4 retract
    handling for downstream batch aggregation)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fluss_spark.types import DELETE, LOG_OFFSET_COL

    w = Window.partitionBy(*pk).orderBy(F.col(LOG_OFFSET_COL).desc())
    return (
        changelog.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("_change_type") != DELETE))
        .drop("__rn")
    )
