"""Engine workload benchmark: PK ingest, PK point serving and log tail
streaming, each a closed loop with one client thread.

    python3 perfbench/run.py --workload pk_spray_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root: the engine is imported from `./fluss_spark`
and every file the run writes stays under `./.perfbench/` (the table
warehouse and Spark's scratch dirs are removed at exit; the report, the
per-layer table and the spans of a traced run are kept under
`.perfbench/artifacts/`). Stdout ends with one JSON line: `correct`,
`attempted`, `failed` and `metrics` — the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

# the metrics of the last stdout line
# (kept equal to BENCHMARK.json: metrics that every listed workload has and
# that repeat across runs on a shared machine; the full set is in the report)
CONTRACT_E2E = {"setup_s": "s", "op_cpu_ms_p50": "ms"}
CONTRACT_LAYER = {
    "catalog.current_commit.calls_per_op": "count",
    "catalog.current_commit.ms": "ms",
    "catalog.write_lock.wait_ms": "ms",
    "sources.kv.upsert.ms": "ms",
    "sources.kv.upsert.spark_jobs": "count",
    "sources.kv.manifest_dirs": "count",
    "operators.replay.calls": "count",
    "operators.replay.changelog_rows_per_input_row": "ratio",
    "maintenance.compactions": "count",
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pk_spray_ingest", "pk_point_serve", "log_tail_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Size Spark to this machine and keep every scratch file under `work`.
    Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["FLUSS_SPARK_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata under /tmp; C1 only: with C2 the per-op CPU keeps
    # falling for the whole of a short run as C2 catches up, at a pace set
    # by the machine's load, while C1 settles within the warm-up (the larger
    # code cache keeps C1-only mode from filling its 48 MB default)
    jvm_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={local}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}"),
        "--driver-java-options", shlex.quote(jvm_opts),
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (closing its stdin
    pipe is the gateway's shutdown signal)."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(w, ops, setup_s: float | None, final: bool) -> dict[str, dict]:
    """End-to-end metrics over `ops`: name -> {value, unit, samples}."""
    from measure import median, pct, tail_pct

    ok = [o for o in ops if o.ok]
    out: dict[str, dict] = {}

    def put(name, value, unit, n=None):
        if value is not None:
            out[name] = {"value": value, "unit": unit, **({"samples": n} if n is not None else {})}

    def lat(name, vals):
        """Median, and the highest percentile with ten samples beyond it."""
        ms = [v * 1e3 for v in vals]
        put(f"{name}_p50", median(ms), "ms", len(ms))
        q = tail_pct(len(ms))
        if q > 50:
            put(f"{name}_p{q}", pct(ms, q), "ms", len(ms))

    if setup_s is not None:
        put("setup_s", setup_s, "s")
    lat("op_ms", [o.latency for o in ok])
    put("op_cpu_ms_p50", median([o.cpu * 1e3 for o in ok]), "ms", len(ok))
    lat("commit_ms", [o.commit for o in ok if o.commit is not None])
    lat("freshness_ms", [o.fresh for o in ok if o.fresh is not None])
    lat("read_ms", [o.plan + o.exec for o in ok if o.exec is not None])
    for kind, name in (("lookup", "lookup_ms"), ("prefix", "prefix_lookup_ms"), ("scan", "scan_ms")):
        lat(name, [o.latency for o in ok if o.kind == kind])
    for k in [k for k in out if k.startswith("scan_ms_p") and k != "scan_ms_p50"]:
        del out[k]
    busy = sum(o.latency for o in ops)
    writes = [o for o in ok if o.commit is not None]
    if busy:
        put("ingest_rows_per_s", sum(o.rows_in for o in writes) / busy, "rows/s")
        put("ops_per_s", len(ops) / busy, "1/s")
    input_bytes = sum(o.input_bytes for o in writes)
    if input_bytes:
        put("write_amp", sum(o.bytes_written for o in ops) / input_bytes, "ratio")
    if final:
        put("space_amp", w.watch.total_bytes / w.live_parquet_bytes(), "ratio")
    return out


def run(args, root: str, work: str, art: str) -> tuple[dict, dict]:
    from measure import machine, median, peak_rss_mb, process_age_s

    sys.path.insert(0, root)
    import fluss_spark
    from fluss_spark.session import get_spark

    if os.path.dirname(os.path.abspath(fluss_spark.__file__)) != os.path.join(root, "fluss_spark"):
        raise RuntimeError(f"fluss_spark imported from {fluss_spark.__file__}, not from {root}")
    import layers
    import workloads
    from spans import Tracer

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = process_age_s()
    try:
        tracer = Tracer(spark) if args.trace else None
        w = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, workloads.SCALES[args.scale], tracer
        )
        w.setup()
        # process start -> first timed op, with the table build counted
        # once at the median of its repetitions
        setup_s = process_age_s() - sum(w.build_s) + median(w.build_s)
        if tracer:
            tracer.install()
        try:
            w.run(args.seconds)
        finally:
            if tracer:
                tracer.uninstall()
        w.verify()
        rss = peak_rss_mb()
        spark_version = spark.version
    finally:
        stop_spark(spark)

    e2e = end_to_end(w, w.ops, setup_s, final=True)
    everything = w.warm_ops + w.ops
    attempted = len(everything) + len(w.checks)
    failed = sum(not o.ok for o in everything) + sum(not c["ok"] for c in w.checks)
    e2e["failed_op_share"] = {"value": failed / attempted, "unit": "ratio"}
    e2e["peak_rss_mb"] = {"value": rss, "unit": "MB"}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "machine": {**machine(), "spark": spark_version, "python": sys.version.split()[0],
                    "driver_memory": os.environ["FLUSS_SPARK_DRIVER_MEM"]},
        "setup": {"session_s": session_s, "build_s": w.build_s, "warmup_s": w.warmup_s,
                  "warmup_ops": len(w.warm_ops)},
        "ops": {"timed": len(w.ops), "loop_s": w.loop_s,
                "by_kind": {k: sum(o.kind == k for o in w.ops) for k in sorted({o.kind for o in w.ops})},
                "errors": [f"{o.i}:{o.kind}: {o.error}" for o in everything if not o.ok][:20],
                "trace": [[o.i, o.kind, o.traced, round(o.latency * 1e3, 2), round(o.cpu * 1e3, 2),
                           o.compacted] for o in everything]},
        "checks": w.checks,
        "end_to_end": e2e,
    }
    metrics = {n: {"value": e2e[n]["value"], "unit": u} for n, u in CONTRACT_E2E.items() if n in e2e}
    if tracer:
        layer = layers.compute(w, tracer.spans)
        traced = [o for o in w.ops if o.traced]
        untraced = [o for o in w.ops if not o.traced]
        on, off = end_to_end(w, traced, None, False), end_to_end(w, untraced, None, False)
        report["per_layer"] = {
            name: {"value": v, "unit": u, "target": t, "workloads": wl}
            for name, v in layer.items()
            for u, t, wl in [layers.describe(name)]
        }
        report["self_ms_per_traced_op"] = layers.self_time_by_layer(tracer.spans, len(traced))
        report["tracing_overhead"] = {
            n: {"value": on[n]["value"] - off[n]["value"], "unit": on[n]["unit"]}
            for n in on if n in off and on[n]["unit"] == "ms"
        }
        tracer.write(os.path.join(art, "spans.jsonl"))
        with open(os.path.join(art, "layers.json"), "w") as f:
            json.dump(report["per_layer"], f, indent=1)
        metrics = {
            n: {"value": layer[n] if layer.get(n) is not None else 0.0, "unit": u}
            for n, u in CONTRACT_LAYER.items()
        }
    with open(os.path.join(art, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, result


def print_report(report: dict) -> None:
    m = report["machine"]
    print(f"# {report['workload']} seed={report['seed']} seconds={report['seconds']} "
          f"trace={report['trace']} scale={report['scale']} nproc={m['nproc']} "
          f"mem={m['mem_total_gb']}GB spark={m['spark']} driver_memory={m['driver_memory']}")
    print(f"# timed ops {report['ops']['timed']} {report['ops']['by_kind']}; "
          f"checks {[(c['check'], c['ok']) for c in report['checks']]}")
    for name, v in report["end_to_end"].items():
        n = f" (n={v['samples']})" if "samples" in v else ""
        print(f"  {name:<28} {v['value']:>14.4f} {v['unit']}{n}")
    for name, v in report.get("per_layer", {}).items():
        val = "n/a" if v["value"] is None else f"{v['value']:.4f}"
        print(f"  {name:<48} {val:>12} {v['unit']:<6} -> {v['target']} {v['workloads']}")
    for name, v in report.get("self_ms_per_traced_op", {}).items():
        print(f"  self[{name}] {v:.2f} ms/op")
    for name, v in report.get("tracing_overhead", {}).items():
        print(f"  tracing overhead {name} {v['value']:+.3f} {v['unit']}")


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fluss_spark", "__init__.py")):
        print("perfbench: ./fluss_spark not found; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    art = os.path.join(base, "artifacts", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(work)
    os.makedirs(art, exist_ok=True)
    configure_env(work)
    try:
        report, result = run(args, root, work, art)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print_report(report)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
