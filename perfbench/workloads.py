"""The three closed-loop workloads (one client thread, next op only after
the previous one completes).

Each workload builds its table, warms up, then runs ops until the run's
seconds are spent. An op's inputs are generated before its timer starts
and its result is checked after the timer stops; a check that fails (or
an op that raises) counts the op as failed. The final state checks run
after the loop and count as one attempted op each.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import math
import os
import sys
import time
import traceback
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import data
from measure import DirWatch, cpu_s_between, cpu_snapshot, parquet_bytes

DB = "bench"

SCALES = {
    # lineitem rows, spray batch rows, events pool / slice / preload
    "full": {
        "lineitem_rows": 30_000,
        "spray_rows": 2_000,
        "events": 100_000,
        "event_slice": 2_000,
        "event_preload": 10_000,
        "builds": 3,
        "warmup": {"pk_spray_ingest": 2, "pk_point_serve": 10, "log_tail_stream": 5},
    },
    # sf0.001-sized inputs for the self-test
    "tiny": {
        "lineitem_rows": 6_000,
        "spray_rows": 200,
        "events": 1_000,
        "event_slice": 200,
        "event_preload": 300,
        "builds": 2,
        "warmup": {"pk_spray_ingest": 1, "pk_point_serve": 20, "log_tail_stream": 2},
    },
}


@dataclass
class Op:
    i: int
    kind: str
    traced: bool
    ok: bool = True
    error: str | None = None
    latency: float = 0.0
    cpu: float = 0.0  # CPU seconds of the process tree during the op (JIT threads left out)
    commit: float | None = None  # the write call
    fresh: float | None = None  # write start -> consumer holds the batch
    plan: float | None = None  # lazy DataFrame built (lookup / scan)
    exec: float | None = None  # collect of the result
    rows_in: int = 0
    input_bytes: int = 0
    bytes_written: int = 0
    hwm_advance: int = 0  # log offsets the op committed (all buckets)
    delivered: int = 0  # rows the consumer received
    manifest_dirs: int = 0
    commit_dirs: int = 0
    compacted: bool = False
    files_in_plan: int | None = None
    jobs: tuple[int, int, int] | None = None  # traced: jobs, stages, tasks


def _lineitem_schema(properties: dict[str, str] | None = None):
    from fluss_spark.types import Field, TableSchema

    return TableSchema(
        fields=[Field(c, t) for c, t in data.LINEITEM_FIELDS],
        primary_key=list(data.LINEITEM_PK),
        bucket_keys=["l_orderkey"],
        num_buckets=16,
        properties=properties or {},
    )


def _ddl(fields) -> str:
    spark_type = {"BIGINT": "bigint", "INT": "int", "DOUBLE": "double", "STRING": "string",
                  "DATE": "date", "TIMESTAMP": "timestamp_ntz"}
    return ", ".join(f"{c} {spark_type[t]}" for c, t in fields)


LINEITEM_DDL = _ddl(data.LINEITEM_FIELDS)
EVENT_DDL = _ddl(data.EVENT_FIELDS)


def _normalize(df: pd.DataFrame, columns: list[str]) -> pd.DataFrame:
    out = df[columns].copy()
    for c in columns:
        if c == "l_shipdate":
            out[c] = pd.to_datetime(out[c])
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out.reset_index(drop=True)


def diff_rows(a: pd.DataFrame, b: pd.DataFrame, columns: list[str]) -> int:
    """Rows present in one frame but not the other (exact values)."""
    m = _normalize(a, columns).merge(
        _normalize(b, columns), how="outer", on=columns, indicator=True
    )
    return int((m["_merge"] != "both").sum()) + abs(len(a) - len(b))


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, scale: dict, tracer=None):
        from fluss_spark.catalog import Catalog

        self.spark = spark
        self.work = work
        self.scale = scale
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.catalog = Catalog(os.path.join(work, "warehouse"))
        self.build_s: list[float] = []
        self.warmup_s = 0.0
        self.ops: list[Op] = []
        self.warm_ops: list[Op] = []
        self.loop_s = 0.0
        self.checks: list[dict] = []  # final state checks
        self.table = None
        self.watch: DirWatch | None = None
        self._prev_counts: tuple[int, int] | None = None  # (manifest dirs, commit dirs)

    # -- phases -----------------------------------------------------------
    def setup(self) -> None:
        """Build the table `builds` times (fresh table each time; the
        last one is used) so set-up time is a median, then warm up."""
        n = self.scale["builds"]
        for k in range(n):
            t0 = time.perf_counter()
            table = self.build(f"t{k}")
            self.build_s.append(time.perf_counter() - t0)
            if k < n - 1:
                self.catalog.drop_table(DB, table.name)
        self.table = table
        self.watch = DirWatch(self.catalog.table_dir(DB, table.name))
        t0 = time.perf_counter()
        self.subscribe()
        for i in range(self.scale["warmup"][self.name]):
            self.warm_ops.append(self.step(-1 - i, traced=False))
        self.warmup_s = time.perf_counter() - t0

    def run(self, seconds: float) -> None:
        """Closed loop: ops back to back until `seconds` have passed. In a
        traced run every other op records spans."""
        t0 = time.perf_counter()
        deadline = t0 + seconds
        i = 0
        while time.perf_counter() < deadline:
            self.ops.append(self.step(i, traced=self.tracer is not None and i % 2 == 0))
            i += 1
        self.loop_s = time.perf_counter() - t0

    def step(self, i: int, traced: bool) -> Op:
        kind, prep = self.prepare(i)
        op = Op(i, kind, traced)
        ctx = self.tracer.op(i, kind, traced) if self.tracer else contextlib.nullcontext()
        result = None
        c0 = cpu_snapshot()
        t0 = time.perf_counter()
        try:
            with ctx:
                result = self.execute(kind, prep, op)
        except Exception as e:  # an op that raises is a failed op, the loop goes on
            op.ok, op.error = False, repr(e)
            traceback.print_exc(file=sys.stderr)
        op.latency = time.perf_counter() - t0
        op.cpu = cpu_s_between(c0, cpu_snapshot())
        if op.ok:
            try:
                err = self.check(kind, prep, result, op)
            except Exception as e:
                err = repr(e)
                traceback.print_exc(file=sys.stderr)
            if err:
                op.ok, op.error = False, err
                print(f"[perfbench] op {i} ({kind}) wrong result: {err}", file=sys.stderr)
        self.account(op)
        if traced:
            op.jobs = self.tracer.op_jobs(i)
        return op

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def account(self, op: Op) -> None:
        """Untimed bookkeeping after each op: bytes written under the
        table dir, manifest / commit-dir counts, compaction detection."""
        op.bytes_written = self.watch.scan()
        tdir = self.catalog.table_dir(DB, self.table.name)
        log_dir = os.path.join(tdir, "log")
        op.commit_dirs = sum(1 for e in os.scandir(log_dir) if e.name.startswith("__commit="))
        state = self.catalog.current_commit(DB, self.table.name)
        mpath = os.path.join(tdir, "meta", "snapshots", f"v{state.snapshot_version}.json")
        if os.path.exists(mpath):
            with open(mpath) as f:
                doc = json.load(f)
            op.manifest_dirs = len(set(doc.get("buckets", {}).values()))
        prev = self._prev_counts
        if prev is not None:
            op.compacted = op.manifest_dirs < prev[0] or op.commit_dirs < prev[1]
        self._prev_counts = (op.manifest_dirs, op.commit_dirs)

    def verify(self) -> None:
        raise NotImplementedError

    def live_parquet_bytes(self) -> int:
        raise NotImplementedError

    def _check(self, name: str, mismatches: int, detail: str = "") -> None:
        self.checks.append({"check": name, "ok": mismatches == 0, "mismatches": mismatches, "detail": detail})
        if mismatches:
            print(f"[perfbench] final check {name} failed: {mismatches} {detail}", file=sys.stderr)

    def _hwm_total(self) -> int:
        return sum(self.table.latest_offsets().values())


class _LineitemTable(Workload):
    properties: dict[str, str] = {}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.base = data.lineitem(self.rng, self.scale["lineitem_rows"])

    def build(self, name: str):
        from fluss_spark.table import create_table

        t = create_table(self.catalog, DB, name, _lineitem_schema(self.properties))
        t.upsert(self.spark.createDataFrame(self.base, LINEITEM_DDL))
        return t

    def snapshot_frame(self) -> pd.DataFrame:
        return self.table.snapshot(self.spark).toPandas()


class SprayIngest(_LineitemTable):
    """Each op upserts a batch spread over every bucket (updates, new
    keys, deletes); a changelog subscriber then polls and collects it."""

    name = "pk_spray_ingest"

    def subscribe(self) -> None:
        from fluss_spark.streaming.reader import LogStreamReader

        self.reader = LogStreamReader(self.table, self.spark, startup_mode="latest")
        if self.reader.poll() is not None:
            raise RuntimeError("latest-offset subscription returned a batch")
        self.live = self.base[data.LINEITEM_PK].copy()
        self.next_order = int(self.base["l_orderkey"].max()) + 1
        self.batches = [self.base.assign(__op="U")]
        self.changelog: list[pd.DataFrame] = []

    def prepare(self, i: int):
        rng, n = self.rng, self.scale["spray_rows"]
        n_new, n_del = n // 10, n // 20
        n_upd = n - n_new - n_del
        idx = rng.choice(len(self.live), n_upd + n_del, replace=False)
        upd = data.line_values(rng, self.live.iloc[idx[:n_upd]]).assign(__op="U")
        dels = data.line_values(rng, self.live.iloc[idx[n_upd:]]).assign(__op="D")
        lines = rng.integers(1, 8, n_new)
        lines = lines[: int(np.searchsorted(np.cumsum(lines), n_new)) + 1]
        lines[-1] -= int(lines.sum()) - n_new
        keys = pd.DataFrame({
            "l_orderkey": np.repeat(np.arange(self.next_order, self.next_order + len(lines)), lines),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        })
        self.next_order += len(lines)
        new = data.line_values(rng, keys).assign(__op="U")
        batch = pd.concat([upd, new, dels], ignore_index=True)
        batch = batch.iloc[rng.permutation(len(batch))].reset_index(drop=True)
        df = self.spark.createDataFrame(batch, LINEITEM_DDL + ", __op string")
        return "upsert", {"batch": batch, "df": df, "n": (n_upd, n_new, n_del), "del_idx": idx[n_upd:],
                          "new_keys": keys, "hwm0": self._hwm_total()}

    def execute(self, kind, prep, op: Op):
        t0 = time.perf_counter()
        self.table.upsert(prep["df"])
        t1 = time.perf_counter()
        polled = self.reader.poll()
        if polled is None:
            raise RuntimeError("committed changelog not visible to the subscriber")
        t2 = time.perf_counter()
        with self.span("exec.collect"):
            cl = polled[0].toPandas()
        t3 = time.perf_counter()
        self.reader.commit_batch()
        op.commit, op.fresh, op.plan, op.exec = t1 - t0, t3 - t0, t2 - t1, t3 - t2
        return cl

    def check(self, kind, prep, cl: pd.DataFrame, op: Op) -> str | None:
        n_upd, n_new, n_del = prep["n"]
        batch = prep["batch"]
        op.rows_in = len(batch)
        op.input_bytes = parquet_bytes(batch)
        op.hwm_advance = self._hwm_total() - prep["hwm0"]
        op.delivered = len(cl)
        # apply to the key model (the next batches draw from it)
        self.live = pd.concat(
            [self.live.drop(self.live.index[prep["del_idx"]]), prep["new_keys"]], ignore_index=True
        )
        self.batches.append(batch)
        self.changelog.append(cl)
        want = {"-U": n_upd, "+U": n_upd, "+I": n_new, "-D": n_del}
        got = cl["_change_type"].value_counts().to_dict()
        if got != {k: v for k, v in want.items() if v}:
            return f"changelog change types {got}, expected {want}"
        if op.delivered != op.hwm_advance:
            return f"consumer got {op.delivered} rows, log advanced {op.hwm_advance}"
        return None

    def _fold(self) -> pd.DataFrame:
        """Last-write-wins fold of every generated batch (bulk load, warm-up
        and timed ops) — the reference final state."""
        allb = pd.concat([b.assign(__seq=k) for k, b in enumerate(self.batches)], ignore_index=True)
        cols = ", ".join(data.LINEITEM_COLUMNS)
        con = duckdb.connect()
        try:
            con.register("allb", allb)
            return con.execute(
                f"SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey, "
                "l_linenumber ORDER BY __seq DESC) AS rn FROM allb) WHERE rn = 1 AND __op <> 'D'"
            ).df()
        finally:
            con.close()

    def verify(self) -> None:
        cols = data.LINEITEM_COLUMNS
        snap = self.snapshot_frame()
        self.ref = self._fold()
        self._check("snapshot_equals_fold", diff_rows(snap, self.ref, cols))
        # the subscriber's view: base at subscription + its folded changelog
        cl = pd.concat(self.changelog, ignore_index=True)
        con = duckdb.connect()
        try:
            con.register("cl", cl)
            con.register("base", self.base)
            c = ", ".join(cols)
            folded = con.execute(
                f"WITH last AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY "
                "l_orderkey, l_linenumber ORDER BY __offset DESC) AS rn FROM cl) WHERE rn = 1) "
                f"SELECT {c} FROM base ANTI JOIN last USING (l_orderkey, l_linenumber) "
                f"UNION ALL SELECT {c} FROM last WHERE _change_type IN ('+I', '+U')"
            ).df()
        finally:
            con.close()
        self._check("consumer_fold_equals_snapshot", diff_rows(folded, snap, cols))

    def live_parquet_bytes(self) -> int:
        return parquet_bytes(self.ref)


class PointServe(_LineitemTable):
    """Client-facade serving: skewed L1 lookups (some misses), L2 prefix
    lookups, a periodic analytic snapshot query, and a one-order trickle
    write every twentieth op."""

    name = "pk_point_serve"
    properties = {"table.snapshot.auto-compact-dirs": "2"}
    CYCLE = ["flush"] + ["scan"] * 2 + ["prefix"] * 5 + ["lookup"] * 12

    def subscribe(self) -> None:
        from fluss_spark.client import connect

        ct = connect(self.catalog.warehouse).get_table(DB, self.table.name)
        self.ct = ct
        self.l1 = ct.new_lookup().create_lookuper(self.spark)
        self.l2 = ct.new_lookup().lookup_by("l_orderkey").create_lookuper(self.spark)
        self.writer = ct.new_upsert().create_writer(self.spark)
        st = self.base.copy()
        st["_day"] = [(d - data.SHIP_EPOCH).days for d in st["l_shipdate"]]
        self.state = st.set_index(data.LINEITEM_PK).sort_index()
        self.orders = np.unique(self.base["l_orderkey"].to_numpy())
        self.order_perm = self.rng.permutation(len(self.orders))
        self.order_set = set(self.orders.tolist())
        self.max_order = int(self.orders.max())
        self.deck: list[str] = []

    def _hot_order(self) -> int:
        r = int(self.rng.zipf(1.2))
        return int(self.orders[self.order_perm[(r - 1) % len(self.orders)]])

    def prepare(self, i: int):
        rng = self.rng
        if not self.deck:
            self.deck = [self.CYCLE[j] for j in rng.permutation(len(self.CYCLE))]
        kind = self.deck.pop()
        if kind == "lookup":
            if rng.random() < 0.1:  # miss: unknown order, or a line past the last
                key = (self.max_order + 1 + int(rng.integers(0, 10_000)), 1) if rng.random() < 0.5 \
                    else (self._hot_order(), 8)
            else:
                ok = self._hot_order()
                lines = self.state.loc[ok].index.to_numpy()
                key = (ok, int(lines[rng.integers(0, len(lines))]))
            return kind, {"key": key}
        if kind == "prefix":
            ok = self.max_order + 1 + int(rng.integers(0, 10_000)) if rng.random() < 0.1 else self._hot_order()
            return kind, {"key": ok}
        if kind == "scan":
            day = int(rng.integers(data.SHIP_DAYS // 4, data.SHIP_DAYS))
            return kind, {"day": day, "cutoff": data.SHIP_EPOCH + datetime.timedelta(days=day)}
        # flush: buffer one order's lines with fresh values (untimed client-side buffering)
        ok = self._hot_order()
        keys = pd.DataFrame({"l_orderkey": ok, "l_linenumber": self.state.loc[ok].index.to_numpy()})
        rows = data.line_values(rng, keys)
        for rec in rows.to_dict("records"):
            self.writer.upsert({k: (v.item() if hasattr(v, "item") else v) for k, v in rec.items()})
        return kind, {"rows": rows, "hwm0": self._hwm_total()}

    def execute(self, kind, prep, op: Op):
        t0 = time.perf_counter()
        if kind == "flush":
            self.writer.flush()
            op.commit = time.perf_counter() - t0
            return None
        if kind == "lookup":
            df = self.l1.lookup(*prep["key"])
        elif kind == "prefix":
            df = self.l2.lookup(prep["key"])
        else:
            df = self.ct.new_scan().filter(F.col("l_shipdate") < F.lit(prep["cutoff"])) \
                .create_batch_scanner(self.spark)
        t1 = time.perf_counter()
        with self.span("exec.collect"):
            if kind == "scan":
                rows = df.agg(F.sum("l_extendedprice").alias("s"), F.count(F.lit(1)).alias("n")).collect()
            else:
                rows = df.collect()
        t2 = time.perf_counter()
        op.plan, op.exec = t1 - t0, t2 - t1
        return rows, df

    def check(self, kind, prep, result, op: Op) -> str | None:
        st = self.state
        if kind == "flush":
            r = prep["rows"]
            op.rows_in = len(r)
            op.input_bytes = parquet_bytes(r)
            op.hwm_advance = self._hwm_total() - prep["hwm0"]
            idx = pd.MultiIndex.from_frame(r[data.LINEITEM_PK])
            vals = r[data.LINEITEM_VALUES].copy()
            vals["_day"] = [(d - data.SHIP_EPOCH).days for d in vals["l_shipdate"]]
            for c in vals.columns:
                st.loc[idx, c] = vals[c].to_numpy()
            return None
        rows, df = result
        if op.traced:  # files the plan reads (a listing; kept out of the timed region)
            op.files_in_plan = len(df.inputFiles())
        if kind == "scan":
            sel = st["_day"] < prep["day"]
            n, s = int(sel.sum()), float(st.loc[sel, "l_extendedprice"].sum())
            got = rows[0]
            if got["n"] != n or not math.isclose(got["s"] or 0.0, s, rel_tol=1e-9, abs_tol=1e-6):
                return f"scan day<{prep['day']}: got ({got['n']}, {got['s']}), expected ({n}, {s})"
            return None
        key = prep["key"]
        if kind == "lookup":
            want = [key] if key in st.index else []
        else:
            want = [(key, ln) for ln in st.loc[key].index] if key in self.order_set else []
        expect = sorted(
            (k[0], k[1], *[st.at[k, c] for c in data.LINEITEM_VALUES]) for k in want
        )
        got = sorted(tuple(r[c] for c in data.LINEITEM_COLUMNS) for r in rows)
        if got != expect:
            return f"{kind} {key}: got {len(got)} rows {got[:1]}, expected {len(expect)} {expect[:1]}"
        return None

    def verify(self) -> None:
        snap = self.snapshot_frame()
        self.ref = self.state.reset_index()[data.LINEITEM_COLUMNS]
        self._check("snapshot_equals_model", diff_rows(snap, self.ref, data.LINEITEM_COLUMNS))

    def live_parquet_bytes(self) -> int:
        return parquet_bytes(self.ref)


class LogTail(Workload):
    """Each op appends the next seeded slice of the events pool; a
    checkpointed subscriber polls, aggregates the batch per bucket and
    collects."""

    name = "log_tail_stream"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.pool = data.events(self.rng, self.scale["events"])
        self.preload = self.pool.iloc[: self.scale["event_preload"]]

    def build(self, name: str):
        from fluss_spark.table import create_table
        from fluss_spark.types import Field, TableSchema

        schema = TableSchema(
            fields=[Field(c, t) for c, t in data.EVENT_FIELDS],
            bucket_keys=["user_id"],
            num_buckets=8,
            properties={"table.log.auto-compact-commits": "5"},
        )
        t = create_table(self.catalog, DB, name, schema)
        t.append(self.spark.createDataFrame(self.preload, EVENT_DDL))
        return t

    def subscribe(self) -> None:
        from fluss_spark.streaming.reader import LogStreamReader

        self.reader = LogStreamReader(
            self.table, self.spark, checkpoint_dir=os.path.join(self.work, "checkpoint"),
            startup_mode="latest",
        )
        if self.reader.poll() is not None:
            raise RuntimeError("latest-offset subscription returned a batch")
        self.next_off = self.table.latest_offsets()
        self.cursor, self.lap = len(self.preload), 0
        self.appended = [self.preload]
        self.delivered_total = 0

    def prepare(self, i: int):
        size = self.scale["event_slice"]
        n = int(self.rng.integers(size * 9 // 10, size * 11 // 10 + 1))
        if self.cursor + n > len(self.pool):
            self.cursor, self.lap = 0, self.lap + 1
        rows = self.pool.iloc[self.cursor : self.cursor + n].copy()
        rows["event_id"] += self.lap * len(self.pool)
        self.cursor += n
        df = self.spark.createDataFrame(rows, EVENT_DDL)
        return "append", {"rows": rows, "df": df, "hwm0": self._hwm_total()}

    def execute(self, kind, prep, op: Op):
        t0 = time.perf_counter()
        self.table.append(prep["df"])
        t1 = time.perf_counter()
        polled = self.reader.poll()
        if polled is None:
            raise RuntimeError("appended events not visible to the subscriber")
        t2 = time.perf_counter()
        with self.span("exec.collect"):
            agg = (
                polled[0].groupBy("__bucket")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("__offset").alias("lo"),
                    F.max("__offset").alias("hi"),
                    F.sum("value").alias("v"),
                    F.sum("event_id").alias("ids"),
                )
                .collect()
            )
        t3 = time.perf_counter()
        self.reader.commit_batch()
        op.commit, op.fresh, op.plan, op.exec = t1 - t0, t3 - t0, t2 - t1, t3 - t2
        return agg

    def check(self, kind, prep, agg, op: Op) -> str | None:
        rows = prep["rows"]
        op.rows_in = len(rows)
        op.input_bytes = parquet_bytes(rows)
        op.hwm_advance = self._hwm_total() - prep["hwm0"]
        op.delivered = sum(r["n"] for r in agg)
        self.appended.append(rows)
        self.delivered_total += op.delivered
        errs = []
        for r in agg:
            b = int(r["__bucket"])
            if r["lo"] != self.next_off.get(b, 0) or r["hi"] - r["lo"] + 1 != r["n"]:
                errs.append(f"bucket {b}: offsets {r['lo']}..{r['hi']} n={r['n']}, expected from {self.next_off.get(b, 0)}")
            self.next_off[b] = int(r["hi"]) + 1
        if op.delivered != len(rows) or sum(r["ids"] for r in agg) != int(rows["event_id"].sum()):
            errs.append(f"delivered {op.delivered} events, appended {len(rows)}")
        if not math.isclose(sum(r["v"] for r in agg), float(rows["value"].sum()), rel_tol=1e-9, abs_tol=1e-6):
            errs.append("sum(value) differs")
        return "; ".join(errs) or None

    def verify(self) -> None:
        allrows = pd.concat(self.appended, ignore_index=True)
        self.ref = allrows
        count = self.table.count()
        self._check("log_count_equals_appended", abs(count - len(allrows)), f"count={count}")
        got = self.table.scan(self.spark).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("event_id").alias("d"),
            F.sum("event_id").alias("ids"),
        ).collect()[0]
        bad = abs(got["n"] - len(allrows)) + abs(got["d"] - len(allrows))
        bad += int(got["ids"] != int(allrows["event_id"].sum()))
        self._check("log_events_exactly_once", bad, str(got.asDict()))
        since = len(allrows) - len(self.preload)
        self._check("consumer_received_every_event", abs(self.delivered_total - since))

    def live_parquet_bytes(self) -> int:
        return parquet_bytes(self.ref)


WORKLOADS = {w.name: w for w in (SprayIngest, PointServe, LogTail)}

