"""Self-test of the benchmark's own code at sf0.001-sized inputs.

    python3 perfbench/selftest.py        # from the repository root, ~2 min

Checks the helpers on hand-made inputs, then runs every workload through
the CLI at `--scale tiny` (plus one traced run) and asserts the contract
of the last stdout line: correct results, no failed op, and exactly the
metrics BENCHMARK.json lists. Also checks that the benchmark refuses to
run (non-zero exit, no result line) where there is no engine to run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)


def check_helpers(tmp: str) -> None:
    import pandas as pd

    from measure import DirWatch, tail_pct
    from spans import self_times
    from workloads import diff_rows

    a = pd.DataFrame({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]})
    assert diff_rows(a, a.iloc[::-1], ["k", "v"]) == 0
    assert diff_rows(a, a.assign(v=[1.0, 2.0, 3.5]), ["k", "v"]) == 2
    assert diff_rows(a, pd.concat([a, a.iloc[:1]]), ["k", "v"]) > 0

    os.makedirs(os.path.join(tmp, "d"))
    w = DirWatch(tmp)
    with open(os.path.join(tmp, "d", "f"), "w") as f:
        f.write("x" * 100)
    assert w.scan() == 100
    os.rename(os.path.join(tmp, "d", "f"), os.path.join(tmp, "g"))  # a publish rename
    assert w.scan() == 0 and w.written == 100 and w.total_bytes == 100

    spans = [
        {"name": "op.x", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"name": "b", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert self_times(spans) == [7.0, 2.0, 1.0]
    assert (tail_pct(100), tail_pct(40), tail_pct(20)) == (90, 75, 50)


def run_cli(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    bench = os.path.join(ROOT, "BENCHMARK.json")
    spec = json.load(open(bench)) if os.path.exists(bench) else None
    tmp = os.path.join(ROOT, ".perfbench", "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        check_helpers(os.path.join(tmp, "helpers"))

        empty = os.path.join(tmp, "empty")
        os.makedirs(empty)
        p = run_cli(empty, "--workload", "log_tail_stream", "--seed", "1", "--seconds", "1")
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)

        runs = [(w, "0") for w in ("pk_spray_ingest", "pk_point_serve", "log_tail_stream")]
        runs.append(("pk_point_serve", "1"))
        for workload, trace in runs:
            p = run_cli(ROOT, "--workload", workload, "--seed", "7", "--seconds", "2",
                        "--trace", trace, "--scale", "tiny")
            assert p.returncode == 0, p.stderr[-3000:]
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            if spec is not None:
                key = "per_layer" if trace == "1" else "end_to_end"
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {n: v["unit"] for n, v in res["metrics"].items()}
                assert got == want, (got, want)
            for n, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (n, v)
            print(f"ok {workload} trace={trace}: {res['attempted']} ops attempted")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
