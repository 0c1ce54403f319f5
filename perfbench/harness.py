"""One benchmark run: generate, set up, time, check, report.

Set-up is repeated ``SETUP_REPS`` times in the run (each repeat stops the
SparkContext and starts a new one on the same JVM, so only the first pays
the JVM launch) and reported as the median. The timed loop is a closed
loop: one engine call at a time, each consumed and checked before the
next starts, until ``--seconds`` have passed; ``rows_per_s`` is the median
over its calls. A traced run alternates traced and untraced calls (the
difference is the tracing overhead) and then sweeps every layer. Untimed
calls run for ``WARMUP_S`` before the timed loop: the JVM is still
compiling the stage's hot paths over the first calls.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

from osm2lanes_spark.fixtures.geography import all_country_polygons
from osm2lanes_spark.session import get_spark

from . import layers
from .jobs import LaneExpectations, LanesJob
from .tracing import RssSampler, StatusStore, Tracer, descendants
from .workloads import generate, write

SETUP_REPS = 3
WARMUP_S = 6.0  # untimed calls first: throughput climbs over a session's first calls
END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}


class Tally:
    """Rows attempted and failed over every checked engine call."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def call(self, fn, rows: int, failed) -> float:
        """Run ``fn`` (one engine call on ``rows`` rows) and count the rows
        ``failed(output)`` reports; returns the call's wall time. A call
        that raises fails every row it attempted."""
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failed Spark job must not end the run
            traceback.print_exc(file=sys.stderr)
            out = None
        seconds = time.perf_counter() - t0
        self.attempted += rows
        self.failed += rows if out is None else failed(out)
        return seconds


def _restart_clean(spark) -> None:
    """Stop the context and let its Python workers exit, so the next
    set-up does not share the cores with the last one's teardown."""
    jvm = spark.sparkContext._jvm
    spark.stop()
    deadline = time.monotonic() + 10
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.05)
    jvm.System.gc()


def setup(job, tracer: Tracer, cores: int):
    """SETUP_REPS x (get_spark + polygon dim and index + first cold job)."""
    spark, reps = None, []
    for rep in range(SETUP_REPS):
        if spark is not None:
            _restart_clean(spark)
        with tracer.span("setup", rep=rep):
            t0 = time.perf_counter()
            with tracer.span("session"):
                spark = get_spark("perfbench", cpus=cores)
            t1 = time.perf_counter()
            with tracer.span("pipeline.first_job"):
                polygons = all_country_polygons()
                out = job.run(spark, polygons, warm=True)
            t2 = time.perf_counter()
        reps.append((t2 - t0, t1 - t0, t2 - t1, out))
    return spark, polygons, reps


def run(workload: str, seed: int, seconds: float, trace: bool,
        work: Path) -> dict:
    started = time.perf_counter()

    def phase(name: str) -> None:
        print(f"perfbench {workload}: {name} at {time.perf_counter() - started:.1f} s",
              file=sys.stderr)

    cores = len(os.sched_getaffinity(0))
    inputs = generate(workload, seed, cores)
    paths = write(inputs, work / "in", cores)
    lanes = LaneExpectations(inputs)
    job = LanesJob(inputs, paths, lanes)
    tracer = Tracer(f"{workload}-seed{seed}", enabled=trace)
    tally = Tally()
    print(f"inputs {workload} seed={seed}: {inputs.props}", file=sys.stderr)

    phase("inputs ready")
    spark, polygons, reps = setup(job, tracer, cores)
    phase("set up")
    try:
        job.expect(spark)
        for _, _, _, out in reps:
            tally.attempted += job.warm_rows
            tally.failed += job.failed(out, warm=True)
        phase("expected outputs hashed")
        warm_until = time.perf_counter() + WARMUP_S
        while time.perf_counter() < warm_until:
            tally.call(lambda: job.run(spark, polygons), job.rows, job.failed)
        phase("warmed up")
        store = StatusStore(spark) if trace else None
        timed = []
        with RssSampler() as rss:
            deadline = time.perf_counter() + seconds
            while not timed or time.perf_counter() < deadline:
                traced = trace and len(timed) % 2 == 0
                with (tracer.span("main", layer=job.layer) if traced else nullcontext()), \
                        (store.group(job.layer) if traced else nullcontext()):
                    dt = tally.call(lambda: job.run(spark, polygons),
                                    job.rows, job.failed)
                timed.append((traced, job.rows / dt))
        phase(f"timed {len(timed)} calls, rows/s "
              + " ".join(f"{r:.0f}" for _, r in timed))
        metrics = {
            "setup_s": statistics.median(r[0] for r in reps),
            "rows_per_s": statistics.median(r for _, r in timed),
            "peak_rss_mb": rss.peak_mb,
        }
        result = {name: {"value": metrics[name], "unit": unit}
                  for name, unit in END_TO_END.items()}
        if trace:
            traced = [r for t, r in timed if t]
            untraced = [r for t, r in timed if not t] or traced
            values = layers.sweep(layers.Context(
                spark=spark, store=store, tracer=tracer, tally=tally,
                cores=cores, inputs=inputs, paths=paths, polygons=polygons,
                lanes=lanes, work=work))
            values.update({
                "session.start_s": statistics.median(r[1] for r in reps),
                "pipeline.first_job_s": statistics.median(r[2] for r in reps),
                "trace.rows_per_s_traced": statistics.median(traced),
                "trace.rows_per_s_untraced": statistics.median(untraced),
                "trace.overhead_share": 1.0 - statistics.median(traced)
                / statistics.median(untraced),
                "trace.spans": len(tracer.spans),
            })
            phase("swept layers")
            result = {name: {"value": values[name], "unit": unit}
                      for name, unit in layers.PER_LAYER.items()}
            trace_dir = work.parent / "traces"
            tracer.write(str(trace_dir / f"{workload}-seed{seed}.json"),
                         inputs=inputs.props, metrics=result)
    finally:
        spark.stop()
    return {"correct": tally.failed == 0, "attempted": tally.attempted,
            "failed": tally.failed, "metrics": result}
