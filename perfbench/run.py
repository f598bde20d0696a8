#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  The line before it is the run's record: cpus,
1-minute load average and every wave's wall time, rows and files.

The run pins its environment before the program is imported: Spark
runs on ``local[<usable cpus>]`` with as many shuffle partitions, the
UI is off, and Spark's local dirs and the engine's scratch root are
private to the run, under ``.perfbench_run/`` in the checkout, and
removed at the end; the JVM's and Python's temporary files go there
too.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("etl_batch", "etl_stream")


def pin_environment(run_dir: str) -> None:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEMORY": "1g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_MASTER", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    try:
        pin_environment(run_dir)
        sys.path.insert(0, ROOT)
        # the program under test: absent outside a checkout, so the run
        # fails here before generating anything
        import stampede_to_fresco_etl_spark  # noqa: F401

        from perfbench import workloads
        from perfbench.trace import Tracer

        run = workloads.Run(args.workload, args.seed, args.seconds,
                            run_dir, Tracer(bool(args.trace)))
        try:
            result, record = workloads.WORKLOADS[args.workload](run)
        finally:
            run.stop_session()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
