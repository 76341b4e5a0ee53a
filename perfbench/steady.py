"""Steadiness check: run workloads repeatedly and report each metric's spread.

    python3 perfbench/steady.py --runs 10 [--workloads serve_hybrid,batch_retrieval]
                                [--seconds 12] [--seed0 1] [--trace] [--out runs.json]

Each run is a fresh ``run.py`` process with its own seed (``seed0``,
``seed0 + 1``, ...). For every workload and metric it prints the
median, the first and third quartiles (``statistics.quantiles(n=4)``),
the spread ``(Q3 - Q1) / median``, and whether the first run of the
series is an outlier (outside the other runs' quartiles widened by 1.5
times their distance). It also prints the load average at the start
of each run, the share of failed operations, and, with ``--trace``,
which Spark job/stage/task counts did not repeat exactly. ``--out``
saves every run's result as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
COUNT_SUFFIXES = (".jobs", ".stages", ".tasks")


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def cpu_times() -> list[int] | None:
    """The host's aggregate CPU time counters (Linux), for the share
    stolen by the hypervisor during a run."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def run_once(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
    ]
    load = os.getloadavg()[0]
    cpu0 = cpu_times()
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t
    cpu1 = cpu_times()
    steal = None
    if cpu0 and cpu1 and len(cpu0) > 7:
        delta = [b - a for a, b in zip(cpu0, cpu1)]
        steal = delta[7] / max(1, sum(delta))
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode in (0, 1) and lines else None
    return {"workload": workload, "seed": seed, "load1": load, "steal": steal, "wall_s": wall,
            "returncode": proc.returncode, "result": result,
            "log": [x for x in proc.stderr.splitlines() if x.startswith("[perfbench]")],
            "stderr_tail": proc.stderr.strip().splitlines()[-5:] if result is None else []}


def report(workload: str, runs: list[dict], trace: bool) -> None:
    ok = [r for r in runs if r["result"] is not None]
    print(f"\n== {workload}: {len(ok)}/{len(runs)} runs produced a result")
    for r in runs:
        res = r["result"] or {}
        steal = "n/a" if r["steal"] is None else f"{r['steal']:.1%}"
        print(f"  seed {r['seed']}: load1 {r['load1']:.2f} at start, steal {steal}, "
              f"wall {r['wall_s']:.1f} s, "
              f"exit {r['returncode']}, correct {res.get('correct')}, "
              f"failed {res.get('failed')}/{res.get('attempted')}")
        for line in r["stderr_tail"]:
            print(f"    {line}")
    if not ok:
        return
    shares = {r["result"]["failed"] / r["result"]["attempted"] for r in ok}
    print(f"  failed share per run: {sorted(shares)}")
    names = list(ok[0]["result"]["metrics"])
    print(f"  {'metric':44s} {'median':>12s} {'Q1':>12s} {'Q3':>12s} {'spread':>8s}  first-run")
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in ok]
        if trace and name.endswith(COUNT_SUFFIXES):
            if len(set(vals)) > 1:
                print(f"  {name:44s} does not repeat: {sorted(set(vals))}")
            continue
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else 0.0
        flag = ""
        if len(vals) >= 4:
            rq1, _, rq3 = quartiles(vals[1:])
            width = 1.5 * (rq3 - rq1)
            if not rq1 - width <= vals[0] <= rq3 + width:
                flag = "OUTLIER"
        print(f"  {name:44s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f}  {flag}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=None,
                   help="comma-separated; default: every workload in BENCHMARK.json")
    p.add_argument("--seconds", type=float, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--out", default=None)
    args = p.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = args.seconds or bench["run_seconds"]
    all_runs = []
    for w in workloads:
        runs = [run_once(w, args.seed0 + i, seconds, args.trace) for i in range(args.runs)]
        all_runs.extend(runs)
        report(w, runs, args.trace)
    if args.out:
        Path(args.out).write_text(json.dumps(all_runs, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
