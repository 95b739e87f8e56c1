#!/usr/bin/env python3
"""Benchmark of the geotrellis_contrib_spark engine (see BENCHMARK.json).

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Everything else,
including Spark's own output, goes to standard error. Exits non-zero without
a result when the engine's sources are not beside the benchmark."""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pipeline", "gate_mix")


def _environment(work: str) -> None:
    """Keep every file the run writes, and the Python workers' imports,
    inside the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM of the run (launcher and driver): temp files in the checkout,
    # no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                       f"-Dderby.system.home={os.path.join(work, 'derby')} "
                                       "-XX:-UsePerfData")


def _stop_jvm() -> None:
    """End the driver JVM that PySpark launched and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("__spark_entry__.py", "geotrellis_contrib_spark", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout",
                  file=sys.stderr)
            return 2

    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)  # the JVM, the workers and every log write to stderr
    sys.path.insert(0, ROOT)
    from perfbench.paths import WORK
    _environment(WORK)
    from perfbench import harness
    try:
        result = harness.run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop_jvm()
    print(json.dumps(result), file=result_out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
