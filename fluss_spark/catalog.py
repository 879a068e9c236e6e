"""Two-level catalog (database.table) over a warehouse directory.

Replaces the reference's ZooKeeper-backed metadata + coordinator
(client/admin/Admin.java:140-290, metadata/TablePath.java) with JSON
files and an atomic commit-log per table — the Delta-style "write files,
then one atomic metadata move" protocol that stands in for the tablet
server's single-leader commit authority.

Layout per table:
  <warehouse>/<db>/<table>/
    meta/schema.json            table schema + distribution + properties
    meta/commits/v{N}.json      commit N: per-bucket log watermarks,
                                current snapshot version, files added
    meta/CURRENT                text file holding latest commit N (atomic rename)
    meta/snapshots/v{N}.json    PK-table snapshot manifest of commit N
    log/__commit={N}/[<part>=<v>/]__bucket=<b>/*.parquet   append-only log (the WAL)
    snapshot/data-v{N}/[<part>=<v>/]__bucket=<b>/*.parquet PK-table materialized state
    .tmp/                       writers' staging, invisible to every reader

Every file mutation goes through fluss_spark/fsops.py. Entries numbered
above CURRENT are invisible; the next writer to take the write lock
deletes them (_sweep_orphans).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from dataclasses import dataclass, field

from fluss_spark import fsops
from fluss_spark.types import TableSchema


class TableNotFoundError(KeyError):
    pass


class DatabaseNotFoundError(KeyError):
    pass


@dataclass
class CommitState:
    version: int
    log_hwm: dict[str, int]  # bucket (as str) -> next offset to assign
    snapshot_version: int  # -1 = no snapshot yet
    auto_increment: dict[str, int]  # column -> next value
    ts_ms: int
    # bucket -> first readable offset; advances when TTL trims the log
    # head (earliest offsets / metadata count stay exact after expiry)
    log_start: dict[str, int] = field(default_factory=dict)
    # commit dirs with version < log_floor are SHADOWED: a whole-log
    # rewrite (rebucket) republished their rows under a new layout, so
    # scans must never read them. The floor advances atomically WITH the
    # rewrite commit — physical deletion of the shadowed dirs can then
    # happen after (and survive a crash in between) without the catalog
    # ever pointing at deleted data. 0 = nothing shadowed.
    log_floor: int = 0
    # the same fence for the LOCAL tier only: compact_log rewrote every
    # local commit dir below it into commit local_floor (remote dirs are
    # never compacted, so they stay readable)
    local_floor: int = 0
    # the bucket count a rebucket published with its commit (get_schema
    # applies it over schema.json's); 0 = the count the table was
    # created with
    num_buckets: int = 0

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=2)

    @staticmethod
    def from_json(s: str) -> "CommitState":
        return CommitState(**json.loads(s))


class Catalog:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        fsops.makedirs(warehouse)

    # -- databases --------------------------------------------------------
    def create_database(self, db: str, ignore_if_exists: bool = True) -> None:
        path = os.path.join(self.warehouse, db)
        if os.path.exists(path) and not ignore_if_exists:
            raise ValueError(f"database exists: {db}")
        fsops.makedirs(path)

    def list_databases(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    def drop_database(self, db: str) -> None:
        fsops.remove(os.path.join(self.warehouse, db))

    # -- tables -----------------------------------------------------------
    def table_dir(self, db: str, table: str) -> str:
        return os.path.join(self.warehouse, db, table)

    def create_table(self, db: str, table: str, schema: TableSchema) -> None:
        self.create_database(db)
        tdir = self.table_dir(db, table)
        if os.path.exists(os.path.join(tdir, "meta", "schema.json")):
            raise ValueError(f"table exists: {db}.{table}")
        fsops.makedirs(os.path.join(tdir, "meta", "commits"))
        fsops.makedirs(os.path.join(tdir, "log"))
        fsops.write_atomic(os.path.join(tdir, "meta", "schema.json"), schema.to_json())
        init = CommitState(
            version=0,
            log_hwm={},
            snapshot_version=-1,
            auto_increment={},
            ts_ms=int(time.time() * 1000),
        )
        fsops.write_atomic(os.path.join(tdir, "meta", "commits", "v0.json"), init.to_json())
        fsops.write_atomic(os.path.join(tdir, "meta", "CURRENT"), "0")

    def get_schema(self, db: str, table: str) -> TableSchema:
        path = os.path.join(self.table_dir(db, table), "meta", "schema.json")
        if not os.path.exists(path):
            raise TableNotFoundError(f"{db}.{table}")
        with open(path) as f:
            schema = TableSchema.from_json(f.read())
        schema.num_buckets = self.current_commit(db, table).num_buckets or schema.num_buckets
        return schema

    def set_schema(self, db: str, table: str, schema: TableSchema) -> None:
        """ALTER TABLE support (metadata/TableChange.java): schema written
        atomically; field IDs anchor evolution."""
        fsops.write_atomic(
            os.path.join(self.table_dir(db, table), "meta", "schema.json"), schema.to_json()
        )

    def list_tables(self, db: str) -> list[str]:
        dbdir = os.path.join(self.warehouse, db)
        if not os.path.isdir(dbdir):
            return []
        return sorted(
            t
            for t in os.listdir(dbdir)
            if os.path.exists(os.path.join(dbdir, t, "meta", "schema.json"))
        )

    def drop_table(self, db: str, table: str) -> None:
        fsops.remove(self.table_dir(db, table))

    def table_exists(self, db: str, table: str) -> bool:
        return os.path.exists(os.path.join(self.table_dir(db, table), "meta", "schema.json"))

    # -- commit log -------------------------------------------------------
    def current_commit(self, db: str, table: str) -> CommitState:
        tdir = self.table_dir(db, table)
        v = _current_version(tdir)
        with open(os.path.join(tdir, "meta", "commits", f"v{v}.json")) as f:
            return CommitState.from_json(f.read())

    def commit(self, db: str, table: str, *states: CommitState) -> None:
        """Single atomic metadata advance — the engine's linearization
        point (stands in for the tablet leader's log append ack). Every
        state's record is written first, numbered above CURRENT and so
        invisible; then one CURRENT write publishes them all, so a group
        of versions lands together or not at all."""
        tdir = self.table_dir(db, table)
        for state in states:
            fsops.write_atomic(
                os.path.join(tdir, "meta", "commits", f"v{state.version}.json"), state.to_json()
            )
        fsops.write_atomic(os.path.join(tdir, "meta", "CURRENT"), str(states[-1].version))

    def commit_at(self, db: str, table: str, version: int) -> CommitState:
        """The CommitState recorded for one version — a single file
        read, where commit_history loads every version."""
        tdir = self.table_dir(db, table)
        with open(os.path.join(tdir, "meta", "commits", f"v{version}.json")) as f:
            return CommitState.from_json(f.read())

    def commit_history(self, db: str, table: str) -> list[CommitState]:
        """Every committed version's CommitState, oldest first (versions
        are contiguous from 0; a record above CURRENT is a commit still
        in flight)."""
        current = _current_version(self.table_dir(db, table))
        return [self.commit_at(db, table, v) for v in range(current + 1)]

    # -- single-writer lock ----------------------------------------------
    def write_lock(self, db: str, table: str, timeout_s: float = 60.0):
        """Per-table single-writer lock (SURVEY §7: offset assignment
        needs a deterministic monotonic counter under a table-level
        commit lock). O_EXCL lockfile with stale-lock breaking — the
        single-leader role of the reference's tablet server, minus the
        server. Taking the lock first sweeps what a crashed writer left
        behind (_sweep_orphans), so every writer starts from a clean
        table and none cleans up by hand."""
        tdir = self.table_dir(db, table)
        lock_path = os.path.join(tdir, "meta", "WRITE_LOCK")

        @contextlib.contextmanager
        def _lock():
            deadline = time.monotonic() + timeout_s
            while not fsops.create_exclusive(lock_path, f"{os.getpid()}:{time.time()}"):
                try:  # break locks older than 10 minutes (dead writer)
                    if time.time() - os.stat(lock_path).st_mtime > 600:
                        fsops.remove(lock_path)
                        continue
                except FileNotFoundError:
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(f"write lock busy for {db}.{table}") from None
                time.sleep(0.05)
            try:
                _sweep_orphans(tdir)
                yield
            finally:
                fsops.remove(lock_path)

        return _lock()


def _current_version(tdir: str) -> int:
    with open(os.path.join(tdir, "meta", "CURRENT")) as f:
        return int(f.read().strip())


# table subdirs whose entries are numbered by the commit version that
# writes them: an entry above CURRENT is a crashed writer's leftover
_VERSIONED = (
    ("log", re.compile(r"__commit=(\d+)")),
    (os.path.join("meta", "commits"), re.compile(r"v(\d+)\.json")),
    (os.path.join("meta", "snapshots"), re.compile(r"v(\d+)\.json")),
    ("snapshot", re.compile(r"data-v(\d+)")),
)

# an optimistic writer stages `.tmp/inflight-*` outside the lock; one
# untouched for this long belongs to a dead writer
INFLIGHT_TTL_S = 3600


def _sweep_orphans(tdir: str) -> None:
    """Delete what a crashed writer left behind, under the write lock:
    every log commit dir, commit record, snapshot manifest and snapshot
    data dir numbered above CURRENT (a writer that died before its
    CURRENT advance), and everything in `.tmp/` except live `inflight-*`
    staging. Nothing above CURRENT is ever read, so this only drops
    garbage — and a retried writer never meets a stale file at its own
    version number."""
    try:
        current = _current_version(tdir)
    except FileNotFoundError:
        return
    for sub, pattern in _VERSIONED:
        with contextlib.suppress(FileNotFoundError), os.scandir(os.path.join(tdir, sub)) as it:
            for e in list(it):
                m = pattern.fullmatch(e.name)
                if m and int(m.group(1)) > current:
                    fsops.remove(e.path)
    with contextlib.suppress(FileNotFoundError), os.scandir(os.path.join(tdir, ".tmp")) as it:
        for e in list(it):
            if e.name.startswith("inflight-"):
                try:
                    if time.time() - e.stat().st_mtime < INFLIGHT_TTL_S:
                        continue
                except FileNotFoundError:
                    continue
            fsops.remove(e.path)
