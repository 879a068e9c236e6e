"""Span tracing around the calls into each engine layer.

The tracer replaces a layer's public function where its caller looks it
up (a class attribute such as `KvStore.upsert`, or a module global such
as `fluss_spark.sources.kv.replay`) with a wrapper that records a span:
name, start, end, parent span and op id. Spans stay in memory and are
written once at the end of the run. Wrappers are installed only in a
traced run, and they record only while `Tracer.recording` is set, so a
traced run can interleave traced and untraced ops over the same table
state and report the difference as the tracing overhead.

Spark work per span is counted from the job group the tracer sets for
each op (`SparkContext.setJobGroup` + `statusTracker()`).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

# (module, owner attribute path, span name, count spark jobs)
WRAPPED = [
    ("fluss_spark.catalog", "Catalog.current_commit", "catalog.current_commit", False),
    ("fluss_spark.catalog", "Catalog.write_lock", "catalog.write_lock", False),
    ("fluss_spark.sources.kv", "KvStore.upsert", "sources.kv.upsert", True),
    ("fluss_spark.sources.kv", "KvStore.lookup", "sources.kv.lookup", True),
    ("fluss_spark.sources.kv", "KvStore.prefix_lookup", "sources.kv.prefix_lookup", True),
    ("fluss_spark.sources.kv", "KvStore.snapshot", "sources.kv.snapshot", True),
    ("fluss_spark.sources.kv", "replay", "operators.replay", True),
    ("fluss_spark.sources.log", "LogStore.append", "sources.log.append", True),
    ("fluss_spark.sources.log", "LogStore.scan", "sources.log.scan", True),
    ("fluss_spark.streaming.reader", "LogStreamReader.poll", "streaming.reader.poll", True),
    ("fluss_spark.maintenance", "_compact_snapshot_locked", "maintenance.compact_snapshot", True),
    ("fluss_spark.maintenance", "_compact_log_locked", "maintenance.compact_log", True),
    ("fluss_spark.maintenance", "_expire_snapshots_locked", "maintenance.expire_snapshots", False),
    ("fluss_spark.table", "FlussTable.upsert", "table.upsert", True),
    ("fluss_spark.table", "FlussTable.append", "table.append", True),
    ("fluss_spark.table", "FlussTable.lookup", "table.lookup", True),
    ("fluss_spark.table", "FlussTable.prefix_lookup", "table.prefix_lookup", True),
    ("fluss_spark.client", "Lookuper.lookup", "client.lookuper.lookup", True),
    ("fluss_spark.client", "UpsertWriter.flush", "client.writer.flush", True),
    ("fluss_spark.client", "_BufferedWriter._drain", "client.writer.drain", False),
]


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self.recording = False
        self.op_id: int | None = None
        self._group: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spark job accounting ---------------------------------------------
    @staticmethod
    def _group_of(op_id: int) -> str:
        return f"perfbench-op-{op_id}"

    def _job_ids(self, group: str | None = None) -> set[int]:
        group = group or self._group
        if group is None:
            return set()
        return set(self._sc.statusTracker().getJobIdsForGroup(group))

    def op_jobs(self, op_id: int) -> tuple[int, int, int]:
        """(jobs, stages, tasks) that ran under one traced op's group."""
        st = self._sc.statusTracker()
        jobs = self._job_ids(self._group_of(op_id))
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                sinfo = st.getStageInfo(s)
                stages += 1
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), stages, tasks

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, op_id: int, kind: str, traced: bool):
        """Root span of one benchmark op; tags its Spark jobs."""
        self.op_id = op_id
        self.recording = traced
        if traced:
            self._group = self._group_of(op_id)
            self._sc.setJobGroup(self._group, kind)
        try:
            with self.span(f"op.{kind}", count_jobs=False):
                yield
        finally:
            self.recording = False
            self._group = None
            if traced:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, count_jobs: bool = True, **attrs):
        if not self.recording:
            yield
            return
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        jobs0 = self._job_ids() if count_jobs else None
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs0 is not None:
                rec["jobs"] = len(self._job_ids() - jobs0)

    # -- wrapping ------------------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod_name, path, name, count_jobs in WRAPPED:
            owner = importlib.import_module(mod_name)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            orig = owner.__dict__[attr]
            wrapper = (
                self._wrap_lock(orig, name)
                if name == "catalog.write_lock"
                else self._wrap_call(orig, name, count_jobs)
            )
            setattr(owner, attr, wrapper)
            self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _wrap_call(self, fn, name: str, count_jobs: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            if not tracer.recording:
                return fn(*args, **kw)
            with tracer.span(name, count_jobs=count_jobs):
                return fn(*args, **kw)

        return wrapper

    def _wrap_lock(self, fn, name: str):
        """write_lock returns a context manager: the span covers only the
        acquisition (`__enter__`), which is the wait for the lock."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            cm = fn(*args, **kw)
            if not tracer.recording:
                return cm

            @contextlib.contextmanager
            def timed():
                with tracer.span(name, count_jobs=False):
                    cm.__enter__()
                try:
                    yield
                except BaseException as e:
                    if not cm.__exit__(type(e), e, e.__traceback__):
                        raise
                else:
                    cm.__exit__(None, None, None)

            return timed()

        return wrapper

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def self_times(spans: list[dict]) -> list[float]:
    """Per span: duration minus the part of it its children cover
    (children of one span run sequentially on the one client thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        p = s["parent"]
        if p is not None:
            child[p] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]
