"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload hpi --seed 1 --seconds 3 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` and removed afterwards; the Spark session runs on
``local[<usable cores / 2>]`` with its scratch, warehouse and temp directories
under the same directory. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (see perfbench/NOTES.md). The last line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`."""
    from perfbench.workloads import SPARK_CORES

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        "pyspark-shell",
    ])
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    # a fixed, modest heap: peak RSS then tracks the work, not how far the
    # collector let an 8 GiB default heap grow
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    import tempfile

    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _check_catalog() -> None:
    from perfbench.metrics import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = ({m["name"] for m in spec["end_to_end"]},
                {m["name"] for m in spec["per_layer"]})
    if declared != (set(END_TO_END), set(PER_LAYER)):
        raise SystemExit("BENCHMARK.json and perfbench/metrics.py disagree")


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench import probes
    from perfbench.workloads import WORKLOADS, Run

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _check_catalog()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        with probes.RssSampler() as sampler:
            run = Run(args.seed, args.seconds, bool(args.trace), work, sampler)
            t0 = time.time()
            try:
                e2e = WORKLOADS[args.workload](run)
                e2e["peak_rss_mb"] = sampler.peak_mb(t0)
            finally:
                if run.spark is not None:
                    _stop_spark(run.spark)
        if args.trace:
            run.tracer.write(os.path.join(ROOT, ".perfbench_work",
                                          f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for problem in run.problems:
        print(f"check failed: {problem}", file=sys.stderr)
    catalog, values = (PER_LAYER, run.layers) if args.trace else (END_TO_END, e2e)
    result = {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(values[name]), "unit": unit}
                    for name, (unit, _better) in catalog.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
