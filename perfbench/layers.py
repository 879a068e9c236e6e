"""Per-layer metrics of a traced run, and the end-to-end metrics each one
should move.

Layers are the engine's modules. Span names come from spans.WRAPPED plus
the benchmark's own `op.<kind>` root spans and `exec.collect` spans
around result collection. Counts that need no span (bytes written,
manifest / commit-dir counts, log offsets committed and delivered) come
from the benchmark's untimed bookkeeping after each op.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from measure import median
from spans import self_times

ALL = ["pk_spray_ingest", "pk_point_serve", "log_tail_stream"]
STREAM = ["pk_spray_ingest", "log_tail_stream"]

# name -> (unit, target end-to-end metric, workloads where it shows)
METRICS = {
    "catalog.current_commit.calls_per_op": ("count", "lookup_ms_p50", ["pk_point_serve"]),
    "catalog.current_commit.ms": ("ms", "lookup_ms_p50", ["pk_point_serve"]),
    "catalog.write_lock.wait_ms": ("ms", "commit_ms_p90", ALL),
    "sources.kv.upsert.ms": ("ms", "commit_ms_p50", ["pk_spray_ingest"]),
    "sources.kv.upsert.spark_jobs": ("count", "commit_ms_p50", ["pk_spray_ingest"]),
    "sources.kv.upsert.bytes_written": ("bytes", "write_amp", ["pk_spray_ingest"]),
    **{
        f"sources.kv.{op}.{m}": (unit, target, ["pk_point_serve"])
        for op, target in (("lookup", "lookup_ms_p50"), ("prefix_lookup", "prefix_lookup_ms_p50"),
                           ("snapshot", "scan_ms_p50"))
        for m, unit in (("plan_ms", "ms"), ("exec_ms", "ms"), ("spark_jobs", "count"),
                        ("files_in_plan", "count"))
    },
    "sources.kv.manifest_dirs": ("count", "lookup_ms_p90", ["pk_point_serve"]),
    "operators.replay.calls": ("count", "commit_ms_p50", ["pk_spray_ingest"]),
    "operators.replay.plan_ms": ("ms", "commit_ms_p50", ["pk_spray_ingest"]),
    "operators.replay.changelog_rows_per_input_row": ("ratio", "write_amp", ["pk_spray_ingest"]),
    "sources.log.append.ms": ("ms", "commit_ms_p50", ["log_tail_stream"]),
    "sources.log.append.spark_jobs": ("count", "commit_ms_p50", ["log_tail_stream"]),
    "sources.log.scan.plan_ms": ("ms", "freshness_ms_p90", STREAM),
    "sources.log.commit_dirs": ("count", "freshness_ms_p90", STREAM),
    "streaming.reader.poll.ms": ("ms", "freshness_ms_p50", STREAM),
    "streaming.reader.batch_exec_ms": ("ms", "freshness_ms_p50", STREAM),
    "streaming.reader.backlog_offsets": ("count", "freshness_ms_p90", STREAM),
    "streaming.reader.delivered_per_committed": ("ratio", "freshness_ms_p90", STREAM),
    "maintenance.compactions": ("count", "commit_ms_p90", ["pk_point_serve", "log_tail_stream"]),
    "maintenance.bytes_rewritten": ("bytes", "write_amp", ["pk_point_serve", "log_tail_stream"]),
    "maintenance.stall_ms": ("ms", "commit_ms_p90", ["pk_point_serve", "log_tail_stream"]),
    "client.lookuper.overhead_ms": ("ms", "lookup_ms_p50", ["pk_point_serve"]),
    "client.writer.drain_ms": ("ms", "commit_ms_p50", ["pk_point_serve"]),
    "session.jobs_per_op": ("count", "op_ms_p50", ALL),
    "session.stages_per_op": ("count", "op_ms_p50", ALL),
    "session.tasks_per_op": ("count", "op_ms_p50", ALL),
}
# per op kind: session.{jobs,stages,tasks}_per_op.<kind> -> that op's
# latency metric, on the workload that runs that kind of op
KIND_TARGET = {
    "upsert": ("freshness_ms_p50", "pk_spray_ingest"),
    "append": ("freshness_ms_p50", "log_tail_stream"),
    "lookup": ("lookup_ms_p50", "pk_point_serve"),
    "prefix": ("prefix_lookup_ms_p50", "pk_point_serve"),
    "scan": ("scan_ms_p50", "pk_point_serve"),
    "flush": ("commit_ms_p50", "pk_point_serve"),
}


LAYERS = ["sources.kv", "sources.log", "operators.replay", "streaming.reader", "catalog",
          "maintenance", "client", "table", "exec", "op"]


def _ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1e3


def compute(workload, spans: list[dict]) -> dict[str, float | None]:
    """Every metric in METRICS (None where the workload never calls the
    layer) plus per-kind session counts."""
    ops = workload.ops
    traced = [o for o in ops if o.traced]
    by_name: dict[str, list[dict]] = defaultdict(list)
    by_op: dict[int, dict[str, list[dict]]] = defaultdict(lambda: defaultdict(list))
    for s in spans:
        by_name[s["name"]].append(s)
        by_op[s["op"]][s["name"]].append(s)
    n_traced = max(1, len(traced))
    out: dict[str, float | None] = {}

    def durations(name):
        return [_ms(s) for s in by_name[name]]

    cc = by_name["catalog.current_commit"]
    out["catalog.current_commit.calls_per_op"] = len(cc) / n_traced
    out["catalog.current_commit.ms"] = sum(map(_ms, cc)) / n_traced
    out["catalog.write_lock.wait_ms"] = median(durations("catalog.write_lock"))

    ups = by_name["sources.kv.upsert"]
    out["sources.kv.upsert.ms"] = median([_ms(s) for s in ups])
    out["sources.kv.upsert.spark_jobs"] = median([s["jobs"] for s in ups])
    up_ops = {s["op"] for s in ups}
    out["sources.kv.upsert.bytes_written"] = median([o.bytes_written for o in traced if o.i in up_ops])

    for layer, kind in (("lookup", "lookup"), ("prefix_lookup", "prefix"), ("snapshot", "scan")):
        kops = [o for o in traced if o.kind == kind]
        plan, execs, jobs = [], [], []
        for o in kops:
            src = by_op[o.i][f"sources.kv.{layer}"]
            ex = by_op[o.i]["exec.collect"]
            if not src:
                continue
            plan.append(sum(map(_ms, src)))
            execs.append(sum(map(_ms, ex)))
            jobs.append(sum(s["jobs"] for s in src + ex))
        out[f"sources.kv.{layer}.plan_ms"] = median(plan)
        out[f"sources.kv.{layer}.exec_ms"] = median(execs)
        out[f"sources.kv.{layer}.spark_jobs"] = median(jobs)
        out[f"sources.kv.{layer}.files_in_plan"] = median(
            [o.files_in_plan for o in kops if o.files_in_plan is not None]
        )
    out["sources.kv.manifest_dirs"] = median([o.manifest_dirs for o in ops])

    rp = by_name["operators.replay"]
    out["operators.replay.calls"] = len(rp) / len(ups) if ups else None
    out["operators.replay.plan_ms"] = median([_ms(s) for s in rp]) if ups else None
    writes = [o for o in ops if o.commit is not None and o.ok]
    rows_in = sum(o.rows_in for o in writes)
    out["operators.replay.changelog_rows_per_input_row"] = (
        sum(o.hwm_advance for o in writes) / rows_in if rows_in else None
    )

    app = by_name["sources.log.append"]
    out["sources.log.append.ms"] = median([_ms(s) for s in app])
    out["sources.log.append.spark_jobs"] = median([s["jobs"] for s in app])
    out["sources.log.scan.plan_ms"] = median(durations("sources.log.scan"))
    out["sources.log.commit_dirs"] = median([o.commit_dirs for o in ops])

    polls = by_name["streaming.reader.poll"]
    consumed = [o for o in ops if o.fresh is not None and o.ok]
    out["streaming.reader.poll.ms"] = median([_ms(s) for s in polls])
    out["streaming.reader.batch_exec_ms"] = median(
        [sum(map(_ms, by_op[o.i]["exec.collect"])) for o in traced if o.fresh is not None]
    )
    out["streaming.reader.backlog_offsets"] = median([o.hwm_advance for o in consumed])
    committed = sum(o.hwm_advance for o in consumed)
    out["streaming.reader.delivered_per_committed"] = (
        sum(o.delivered for o in consumed) / committed if committed else None
    )

    comp = [o for o in writes if o.compacted]
    other = [o for o in writes if not o.compacted]
    out["maintenance.compactions"] = float(len(comp))
    if comp and other:
        out["maintenance.bytes_rewritten"] = sum(o.bytes_written for o in comp) - len(comp) * median(
            [o.bytes_written for o in other]
        )
        out["maintenance.stall_ms"] = (median([o.commit for o in comp]) - median([o.commit for o in other])) * 1e3
    else:
        out["maintenance.bytes_rewritten"] = 0.0 if not comp else None
        out["maintenance.stall_ms"] = 0.0 if not comp else None

    over = []
    for o in traced:
        if o.kind == "lookup" and by_op[o.i]["client.lookuper.lookup"]:
            outer = sum(map(_ms, by_op[o.i]["client.lookuper.lookup"]))
            inner = sum(map(_ms, by_op[o.i]["table.lookup"]))
            over.append(outer - inner)
    out["client.lookuper.overhead_ms"] = median(over)
    out["client.writer.drain_ms"] = median(durations("client.writer.drain"))

    jobs = [o.jobs for o in traced if o.jobs is not None]
    for k, name in enumerate(("jobs", "stages", "tasks")):
        out[f"session.{name}_per_op"] = statistics.fmean(j[k] for j in jobs) if jobs else None
        for kind in sorted({o.kind for o in traced}):
            vals = [o.jobs[k] for o in traced if o.kind == kind and o.jobs is not None]
            out[f"session.{name}_per_op.{kind}"] = statistics.fmean(vals) if vals else None
    return out


def describe(name: str) -> tuple[str, str, list[str]]:
    if name in METRICS:
        return METRICS[name]
    target, workload = KIND_TARGET[name.rsplit(".", 1)[1]]
    return "count", target, [workload]


def self_time_by_layer(spans: list[dict], n_ops: int) -> dict[str, float]:
    """Self time (ms per traced op) summed per layer: the first LAYERS
    entry the span name starts with (`operators.replay` is listed before
    `op`, the benchmark's own time inside an op outside every wrapped
    call)."""
    out: dict[str, float] = defaultdict(float)
    for s, st in zip(spans, self_times(spans)):
        layer = next(p for p in LAYERS if s["name"].startswith(p))
        out[layer] += st * 1e3 / max(1, n_ops)
    return dict(sorted(out.items()))
