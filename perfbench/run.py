"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload serve_hybrid --seed 1 --seconds 12 --trace 0

Run from the repository root. The program is imported from this
checkout's ``vechord_spark/``; without it the run fails before printing
a result. Each run makes a fresh directory under ``.perfbench_runs/``
for the registry, the Spark warehouse, Spark's local dirs and temp
files, starts one Spark session on a pinned number of task slots, runs
the workload's fixed operation sequence, checks every output against
``oracle``, stops Spark (and waits for its JVM to exit) and deletes
the directory.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's entry points (``tracing``) and prints the per-layer metrics
instead. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1
when any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()

ROOT = Path(__file__).resolve().parent.parent
RUNS = ROOT / ".perfbench_runs"
TASK_SLOTS = max(1, min(4, os.cpu_count() or 1))


def _import_program():
    sys.path.insert(0, str(ROOT))
    import vechord_spark

    where = Path(vechord_spark.__file__).resolve()
    if ROOT not in where.parents:
        raise SystemExit(f"vechord_spark imported from {where}, not from {ROOT}")


def _start_spark(run_dir: Path):
    from vechord_spark.session import get_spark

    local, tmp = run_dir / "spark-local", run_dir / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True)
    # hermetic session: no inherited overrides, every scratch path in
    # the run directory
    for var in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(run_dir / "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (spark-submit's launcher and the driver): temp files in
    # the run directory, no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return get_spark(
        "perfbench",
        master=f"local[{TASK_SLOTS}]",
        shuffle_partitions=TASK_SLOTS,
        extra_conf={
            "spark.sql.shuffle.partitions": str(TASK_SLOTS),
            "spark.default.parallelism": str(TASK_SLOTS),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(local),
            "spark.driver.memory": "2g",
            # keep every job's status for the traced run's attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    _import_program()
    import workloads
    from metrics import per_layer

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    run_dir = RUNS / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    tracer = None
    try:
        t = time.perf_counter()
        spark = _start_spark(run_dir)
        get_spark_ms = (time.perf_counter() - t) * 1e3
        try:
            ctx = workloads.Ctx(spark, run_dir, args.seed, args.seconds, T_START)
            if args.trace:
                from tracing import Tracer

                tracer = ctx.tracer = Tracer(spark)
                tracer.install()
            try:
                out = workloads.WORKLOADS[args.workload](ctx)
            finally:
                if tracer is not None:
                    tracer.uninstall()
                    tracer.finish()
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUNS.rmdir()  # only when no other run is using it
        except OSError:
            pass

    for kind, n in out.attempted.items():
        workloads.log(f"{kind}: attempted {n}, failed {out.failed.get(kind, 0)}")
    for name, value in out.e2e.items():
        workloads.log(f"{name} = {value:.6g} {workloads.E2E_UNITS[name]}")
    for msg in out.errors:
        workloads.log(f"CHECK FAILED: {msg}")
    correct = not out.errors
    if args.trace:
        metrics = per_layer(tracer, out, get_spark_ms)
    else:
        metrics = {
            name: {"value": value, "unit": workloads.E2E_UNITS[name]}
            for name, value in out.e2e.items()
        }
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": sum(out.attempted.values()),
                "failed": sum(out.failed.values()),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
