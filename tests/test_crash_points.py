"""A crash at every filesystem mutation point of every table-writing op.

Every file mutation goes through `fluss_spark/fsops.py`, so one hook on
its primitives sees each mutation point of an op. For each op:

  1. a counting run on a fresh copy of a template table finds its N
     top-level fsops calls (a primitive's own nested calls are part of
     that one step); that run is also the op's no-crash twin;
  2. for each k < N a fresh copy runs the op with a crash raised before
     call k and on every call after it (a dead process writes nothing
     more), then the table is reopened with new Catalog/FlussTable
     objects and checked:
       (a) its current snapshot and changelog equal the twin's pre-op
           or post-op state;
       (b) after two follow-up commits — one that writes no manifest
           and one that writes no WAL dir — time travel to every
           version from the log floor to CURRENT equals the changelog
           folded up to that version's high watermarks (a rebucket
           rewrites the whole changelog in a new bucket layout and
           raises the floor to its version, so no changelog row
           describes an older version), the run's distinct states in
           version order equal the twin's (maintenance commits change
           no content, so versions are compared by content, not by
           number), changelog replay equals the snapshot, and per-bucket
           offsets are contiguous from the earliest offset and unique;
       (c) nothing numbered above CURRENT remains and `.tmp/` holds
           only live `inflight-*` staging;
       (d) a LogStreamReader resumed from a checkpoint taken before the
           op delivers each committed change exactly once, or, once the
           table was rebucketed, refuses to resume.

A crashed writer leaves its WRITE_LOCK file; the check ages it past the
stale-lock limit, as the next writer would find it 10 minutes later.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time

import pytest

from fluss_spark import fsops
from fluss_spark import maintenance as mnt
from fluss_spark.catalog import Catalog
from fluss_spark.streaming.reader import LogStreamReader
from fluss_spark.table import FlussTable, create_table
from fluss_spark.types import BUCKET_COL, CHANGE_TYPE_COL, OFFSET_COL, Field, TableSchema

pytestmark = pytest.mark.slow

PRIMITIVES = ("write_atomic", "replace_dir", "remove", "makedirs", "create_exclusive")
DB, NAME = "db", "t"
PK_DDL = "k int, v string, __op string"
LOG_DDL = "a int, b string"


class Crash(BaseException):
    """Raised at a crash point; a BaseException, so no engine
    `except Exception` fallback can swallow it."""


@contextlib.contextmanager
def fs_hook(crash_at: int | None = None):
    """Record the top-level fsops calls as (primitive, path); with
    `crash_at` = k, raise Crash before call k and on every later call."""
    calls: list[tuple[str, str]] = []
    state = {"depth": 0, "dead": False}
    real = {n: getattr(fsops, n) for n in PRIMITIVES}

    def wrap(name, fn):
        def hooked(*args, **kwargs):
            if state["dead"]:
                raise Crash(f"{name} after the crash")
            if state["depth"] == 0:
                if len(calls) == crash_at:
                    state["dead"] = True
                    raise Crash(f"before {name}({args[0]})")
                calls.append((name, str(args[0])))
            state["depth"] += 1
            try:
                return fn(*args, **kwargs)
            finally:
                state["depth"] -= 1

        return hooked

    for n, fn in real.items():
        setattr(fsops, n, wrap(n, fn))
    try:
        yield calls
    finally:
        for n, fn in real.items():
            setattr(fsops, n, fn)


# ---------------------------------------------------------------------- #
# templates: small tables built once, copied per run
# ---------------------------------------------------------------------- #
def _pk_rows(spark, rows):
    return spark.createDataFrame([(k, v, op) for k, v, op in rows], PK_DDL)


def _pk_batch(spark, i):
    """Batch i: upserts of 4 keys shifted by i, and from i=1 on a delete."""
    rows = [(k, f"v{i}_{k}", "U") for k in range(2 * i, 2 * i + 4)]
    if i >= 1:
        rows.append((2 * i - 1, None, "D"))
    return _pk_rows(spark, rows)


def _log_batch(spark, i):
    return spark.createDataFrame([(10 * i + j, f"r{i}_{j}") for j in range(5)], LOG_DDL)


def _open(wh):
    return FlussTable(Catalog(wh), DB, NAME)


def _pk_table(wh, props):
    return create_table(
        Catalog(wh), DB, NAME,
        TableSchema(
            fields=[Field("k", "INT", nullable=False), Field("v", "STRING")],
            primary_key=["k"],
            num_buckets=4,
            properties=props,
        ),
    )


def _build(spark, kind, wh):
    if kind == "log":
        t = create_table(
            Catalog(wh), DB, NAME,
            TableSchema(
                fields=[Field("a", "INT"), Field("b", "STRING")],
                num_buckets=2,
                properties={"table.log.ttl": "1h"},
            ),
        )
        for i in range(3):
            t.append(_log_batch(spark, i), ordering=["a"])
    elif kind in ("eager", "optimistic"):
        props = {"table.commit.concurrency": "optimistic"} if kind == "optimistic" else {}
        t = _pk_table(wh, props)
        for i in range(2):
            t.upsert(_pk_batch(spark, i), ordering=["k"])
    else:  # deferred: a materialized snapshot plus a pending WAL tail
        t = _pk_table(wh, {"table.snapshot.defer-commits": "4"})
        t.upsert(_pk_batch(spark, 0), ordering=["k"])  # v1, WAL-only
        t.kv.materialize(spark)  # v2
        t.upsert(_pk_batch(spark, 1), ordering=["k"])  # v3, WAL-only
        if kind == "deferred_due":  # the next upsert hits the cadence
            for i in (2, 3):
                t.upsert(_pk_batch(spark, i), ordering=["k"])  # v4, v5
    # a subscriber that has consumed everything up to here
    reader = LogStreamReader(t, spark, checkpoint_dir=os.path.join(wh, "_ckpt"), startup_mode="earliest")
    reader.process_available(lambda df, bid: None)


OPS = {
    "eager_upsert": ("eager", lambda s, t: t.upsert(_pk_batch(s, 5), ordering=["k"])),
    "deferred_wal_upsert": ("deferred", lambda s, t: t.upsert(_pk_batch(s, 5), ordering=["k"])),
    "deferred_cadence_upsert": ("deferred_due", lambda s, t: t.upsert(_pk_batch(s, 5), ordering=["k"])),
    "upsert_many": (
        "eager", lambda s, t: t.upsert_many([_pk_batch(s, i) for i in (5, 6, 7)], ordering=["k"]),
    ),
    "optimistic_upsert": ("optimistic", lambda s, t: t.upsert(_pk_batch(s, 5), ordering=["k"])),
    "log_append": ("log", lambda s, t: t.append(_log_batch(s, 5), ordering=["a"])),
    "compact_log": ("log", lambda s, t: mnt.compact_log(t, s, target_commits=2)),
    "materialize": ("deferred", lambda s, t: t.kv.materialize(s)),
    "compact_snapshot": ("eager", lambda s, t: mnt.compact_snapshot(t, s, max_dirs=0)),
    "rebucket": ("deferred", lambda s, t: mnt.rebucket_table(t, s, 8)),
    "rebucket_eager": ("eager", lambda s, t: mnt.rebucket_table(t, s, 8)),
    "rebucket_log": ("log", lambda s, t: mnt.rebucket_table(t, s, 3)),
    # every commit but the newest is past the TTL
    "expire_log_ttl": ("log", lambda s, t: mnt.expire_log_ttl(t, s, now_ms=2**60)),
    "tier_log": ("log", lambda s, t: mnt.tier_log(t, local_segments=1)),
}


def _follow_ups(spark, t):
    """One commit that writes no manifest (a group's first version, or a
    deferred WAL-only upsert; an append on log tables), then one that
    writes no WAL dir (snapshot compaction; log compaction)."""
    if t.kv is None:
        t.append(_log_batch(spark, 8), ordering=["a"])
        assert mnt.compact_log(t, spark, target_commits=1)
        return
    with t.catalog.write_lock(DB, NAME):
        t.kv.upsert_many([_pk_batch(spark, 8), _pk_batch(spark, 9)], ordering=["k"])
    assert mnt.compact_snapshot(t, spark, max_dirs=0)


# ---------------------------------------------------------------------- #
# reads
# ---------------------------------------------------------------------- #
def _changes(spark, t):
    """Every committed log row as (bucket, offset, change type, data...)."""
    df = t.log.scan(spark)
    if t.kv is None:
        return sorted((r[BUCKET_COL], r[OFFSET_COL], "+A", r["a"], r["b"]) for r in df.collect())
    return sorted(
        (r[BUCKET_COL], r[OFFSET_COL], r[CHANGE_TYPE_COL], r["k"], r["v"]) for r in df.collect()
    )


def _state(spark, t, version=None):
    if t.kv is None:
        end = None
        if version is not None:  # every bucket bounded, an empty one at 0
            hwm = _hwm(t, version)
            end = {b: hwm.get(b, 0) for b in range(t.schema.num_buckets)}
        return sorted(
            (r[BUCKET_COL], r[OFFSET_COL], "+A", r["a"], r["b"])
            for r in t.log.scan(spark, end_offsets=end).collect()
        )
    return sorted((r["k"], r["v"]) for r in t.kv.snapshot(spark, version=version).collect())


def _fold(t, changes, hwm):
    """The state the changelog rows below `hwm` describe."""
    below = [c for c in changes if c[1] < hwm.get(c[0], 0)]
    if t.kv is None:
        return sorted(below)
    last = {}
    for _b, _off, ct, k, v in sorted(below, key=lambda c: (c[0], c[1])):
        last[k] = (ct, v)
    return sorted((k, v) for k, (ct, v) in last.items() if ct in ("+I", "+U"))


def _hwm(t, version=None):
    st = t.catalog.current_commit(DB, NAME) if version is None else t.catalog.commit_at(DB, NAME, version)
    return {int(b): o for b, o in st.log_hwm.items()}


def _history(spark, t):
    """Time travel to every version from the log floor to CURRENT,
    checked against the changelog fold at that version; returns the
    distinct states in version order."""
    changes = _changes(spark, t)
    seq = []
    state = t.catalog.current_commit(DB, NAME)
    for v in range(state.log_floor, state.version + 1):
        got = _state(spark, t, v)
        assert got == _fold(t, changes, _hwm(t, v)), f"time travel to v{v}"
        if not seq or seq[-1] != got:
            seq.append(got)
    return seq


def _age_lock(wh):
    lock = os.path.join(wh, DB, NAME, "meta", "WRITE_LOCK")
    if os.path.exists(lock):
        old = time.time() - 3600
        os.utime(lock, (old, old))


# ---------------------------------------------------------------------- #
# fixtures
# ---------------------------------------------------------------------- #
@pytest.fixture(scope="module")
def templates(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("crash_templates")
    out = {}
    for kind in ("eager", "optimistic", "deferred", "deferred_due", "log"):
        wh = str(root / kind)
        _build(spark, kind, wh)
        t = _open(wh)
        # the pre-op twin: the template, then the follow-ups
        twin = str(root / f"{kind}_twin")
        shutil.copytree(wh, twin)
        tw = _open(twin)
        _follow_ups(spark, tw)
        out[kind] = {
            "wh": wh,
            "content": (_state(spark, t), _changes(spark, t)),
            "ckpt": dict(LogStreamReader(t, spark, checkpoint_dir=os.path.join(wh, "_ckpt"))._offsets or {}),
            "history": _history(spark, tw),
        }
    return out


_VERSIONED = {
    "log": re.compile(r"__commit=(\d+)"),
    os.path.join("meta", "commits"): re.compile(r"v(\d+)\.json"),
    os.path.join("meta", "snapshots"): re.compile(r"v(\d+)\.json"),
    "snapshot": re.compile(r"data-v(\d+)"),
}


def _check_clean(wh, current):
    tdir = os.path.join(wh, DB, NAME)
    for sub, pat in _VERSIONED.items():
        d = os.path.join(tdir, sub)
        names = os.listdir(d) if os.path.isdir(d) else []
        above = [n for n in names if (m := pat.fullmatch(n)) and int(m.group(1)) > current]
        assert not above, f"{sub} holds {above} above CURRENT v{current}"
    tmp = os.path.join(tdir, ".tmp")
    left = os.listdir(tmp) if os.path.isdir(tmp) else []
    assert all(n.startswith("inflight-") for n in left), left


def _check_resumed_reader(spark, t, wh, ckpt):
    """(d) a reader resumed from the pre-op checkpoint delivers every
    committed change past it exactly once; across a rebucket (a new
    bucket epoch) it refuses to resume, since the checkpoint's
    per-bucket offsets belong to the old layout."""
    if t.catalog.current_commit(DB, NAME).log_floor:  # a new bucket epoch
        with pytest.raises(ValueError, match="rebucket"):
            LogStreamReader(t, spark, checkpoint_dir=os.path.join(wh, "_ckpt"))
        return
    delivered = []
    LogStreamReader(t, spark, checkpoint_dir=os.path.join(wh, "_ckpt"), startup_mode="earliest").process_available(
        lambda df, bid: delivered.extend(
            (r[BUCKET_COL], r[OFFSET_COL]) for r in df.select(BUCKET_COL, OFFSET_COL).collect()
        )
    )
    want = [(c[0], c[1]) for c in _changes(spark, t) if c[1] >= ckpt.get(c[0], 0)]
    assert sorted(delivered) == sorted(want)


def _check_run(spark, wh, tpl, post):
    t = _open(wh)
    # (a) the op happened entirely or not at all
    content = (_state(spark, t), _changes(spark, t))
    assert content in (tpl["content"], post["content"])
    twin_history = post["history"] if content == post["content"] else tpl["history"]
    # (b) follow-ups, then every version
    _age_lock(wh)
    _follow_ups(spark, t)
    t = _open(wh)
    assert _history(spark, t) == twin_history
    changes = _changes(spark, t)
    if t.kv is not None:
        assert _fold(t, changes, _hwm(t)) == _state(spark, t)
    hwm, start = _hwm(t), t.log.earliest_offsets()  # a TTL trim moves the start
    for b in {c[0] for c in changes} | set(hwm):
        offs = [c[1] for c in changes if c[0] == b]
        assert offs == list(range(start.get(b, 0), hwm.get(b, 0))), f"bucket {b} offsets"
    # (c) nothing above CURRENT, nothing stale in .tmp
    _check_clean(wh, t.catalog.current_commit(DB, NAME).version)
    # (d) exactly-once resume
    _check_resumed_reader(spark, t, wh, tpl["ckpt"])


@pytest.mark.parametrize("op", sorted(OPS))
def test_crash_at_every_mutation_point(spark, templates, tmp_path, op):
    kind, fn = OPS[op]
    tpl = templates[kind]

    # counting run = the no-crash twin
    twin = str(tmp_path / "twin")
    shutil.copytree(tpl["wh"], twin)
    t = _open(twin)
    with fs_hook() as calls:
        fn(spark, t)
    t = _open(twin)
    post = {"content": (_state(spark, t), _changes(spark, t))}
    _follow_ups(spark, t)
    post["history"] = _history(spark, _open(twin))
    assert calls, f"{op} made no filesystem mutation"
    print(f"{op}: {len(calls)} mutation points: {[c[0] for c in calls]}")

    for k in range(len(calls)):
        wh = str(tmp_path / f"crash{k}")
        shutil.copytree(tpl["wh"], wh)
        t = _open(wh)
        with fs_hook(crash_at=k), pytest.raises(Crash):
            fn(spark, t)
        try:
            _check_run(spark, wh, tpl, post)
        except AssertionError as e:
            raise AssertionError(f"{op}: crash before call {k} {calls[k]}: {e}") from e
        shutil.rmtree(wh)
