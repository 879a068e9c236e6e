"""Measurement helpers: percentiles, table-dir byte accounting, process
tree memory and CPU time, Parquet-encoded input sizes."""

from __future__ import annotations

import io
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def pct(values: list[float], q: float) -> float | None:
    """q-th percentile (linear interpolation), None without samples."""
    if not values:
        return None
    return float(np.percentile(values, q))


def median(values: list[float]) -> float | None:
    return float(statistics.median(values)) if values else None


def tail_pct(n: int) -> int:
    """Highest of p90/p75/p50 that has at least ten samples beyond it."""
    for q in (90, 75):
        if n * (100 - q) / 100 >= 10:
            return q
    return 50


def parquet_bytes(df) -> int:
    """Size of a pandas frame written once as snappy Parquet."""
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf, compression="snappy")
    return buf.tell()


class DirWatch:
    """Bytes written under one directory, from successive walks. A file
    is new when its (inode, mtime) pair was not seen by the previous
    walk, so a rename (staging dir -> log dir) is not counted twice and
    an atomic replace (new inode) is counted again."""

    def __init__(self, path: str):
        self.path = path
        self.seen: set[tuple[int, int]] = set()
        self.total_bytes = 0
        self.written = 0
        self.scan()
        self.written = 0

    def scan(self) -> int:
        """Walk once; returns bytes of files that appeared since the
        previous walk (and adds them to `written`)."""
        cur: set[tuple[int, int]] = set()
        new = total = 0
        for root, _dirs, files in os.walk(self.path):
            for name in files:
                try:
                    st = os.stat(os.path.join(root, name))
                except FileNotFoundError:
                    continue
                key = (st.st_ino, st.st_mtime_ns)
                cur.add(key)
                total += st.st_size
                if key not in self.seen:
                    new += st.st_size
        self.seen = cur
        self.total_bytes = total
        self.written += new
        return new


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants (the Spark JVM included)."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM)."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# HotSpot's JIT compiler and code-cache sweeper threads (15-char comm)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def cpu_snapshot() -> dict:
    """CPU nanoseconds (user + system, from the scheduler) of every thread
    of the process tree -- this python process and the Spark JVM -- keyed by
    (pid, tid), plus, keyed by pid, the CPU of the children each process
    has reaped. The JIT's own threads are left out: they compile in the
    background whatever earlier ops made hot, so their CPU falls on
    whichever op happens to run and dwindles as the JVM warms up. Steal
    time and time spent waiting for a CPU are not CPU time, so a snapshot
    delta moves with the work an op does, and much less than wall time
    with the load of the machine."""
    snap: dict = {}
    for pid in process_tree():
        base = f"/proc/{pid}"
        try:
            with open(f"{base}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            snap[pid] = (int(fields[13]) + int(fields[14])) * 1e9 / os.sysconf("SC_CLK_TCK")
            tids = os.listdir(f"{base}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"{base}/task/{tid}/comm") as f:
                    if f.read().rstrip("\n") in JIT_THREADS:
                        continue
                with open(f"{base}/task/{tid}/schedstat") as f:
                    snap[(pid, int(tid))] = int(f.read().split()[0])
            except OSError:
                continue
    return snap


def cpu_s_between(before: dict, after: dict) -> float:
    """CPU seconds between two snapshots. A thread that started in
    between counts in full; one that ended in between is not seen."""
    return sum(v - before.get(k, 0) for k, v in after.items()) / 1e9


def process_age_s() -> float:
    """Seconds since this process started, from /proc (clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
    }
