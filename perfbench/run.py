#!/usr/bin/env python3
"""Lane + spatial engine benchmark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload lanes_dict --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, runs the engine on
``local[<cores>]`` in this process, checks every output against an
independent computation and prints, as the last line of standard output,
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones (see README.md), and the spans go to
``.perfbench_work/traces/``. Exits 1 when any checked row failed.

Everything the run writes (inputs, Spark scratch, checkpoints, JVM temp
files) stays under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def _parse(argv) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=10.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def _confine(run_dir: Path) -> None:
    """Point every temp and scratch location of Spark, the JVM and Python
    workers into ``run_dir`` (must run before pyspark starts the JVM)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'} "
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 "
        # a fixed, pre-touched driver heap: its RSS is the same every run
        '--driver-java-options "-Xms1g -XX:+AlwaysPreTouch" pyspark-shell')


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "osm2lanes_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import SPECS

    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(SPECS)}", file=sys.stderr)
        return 2
    run_dir = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _confine(run_dir)
    from perfbench import harness

    try:
        result = harness.run(args.workload, args.seed, args.seconds,
                             bool(args.trace), run_dir)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
