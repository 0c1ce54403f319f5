"""The traced layer sweep: every layer the workloads touch, timed alone.

Spark layers run as nested *prefix* jobs over the same documents, each
consumed by the ``noop`` sink so every column is computed and nothing is
collected:

1. scan
2. scan + ``span_assembly.with_tags``
3. the same + ``lane_transform.tags_to_lanes_stage`` on pre-resolved
   locale columns
4. the full fused ``pipeline.lanes_pipeline``

so each layer's cost is the difference between neighbouring prefixes.
The unfused path (``containment_join`` broadcast + groupBy shuffle),
``plans.lineage`` checkpoint write / read-back, the reverse
``lanes_to_tags_stage`` and ``knn_join`` run once each; their outputs are
checked like the timed calls. Row and cell kernels are timed in-process.
Every Spark call runs under its own job group, whose stages give task,
GC, CPU and byte counts from the status store.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from osm2lanes_spark import pipeline
from osm2lanes_spark.core.lanes_to_tags import lanes_to_tags
from osm2lanes_spark.core.locale import Locale
from osm2lanes_spark.core.model import RoadError
from osm2lanes_spark.core.tags_to_lanes import tags_to_lanes
from osm2lanes_spark.operators.lane_transform import (lanes_to_tags_stage,
                                                      tags_to_lanes_stage)
from osm2lanes_spark.operators.span_assembly import with_tags
from osm2lanes_spark.plans.lineage import resumable, write_checkpoint
from osm2lanes_spark.spatial import cells
from osm2lanes_spark.spatial import polygons as P
from osm2lanes_spark.spatial.joins import containment_join, make_locale_resolver

from . import checker
from .jobs import KnnJob
from .tracing import self_times
from .workloads import KNN_LEVEL, LOCALE_LEVEL, PROBE_DOCS, Inputs

PREFIX_REPS = 2
KERNEL_REPS = 3
KERNEL_SAMPLE = 2000  # distinct inputs fed to each row kernel
KNN_RING = 8          # the ring the kNN seeds on these densities
ARROW_BATCH = 10000   # spark.sql.execution.arrow.maxRecordsPerBatch (session.py)

PREFIXES = ("scan", "operators.span_assembly", "operators.lane_transform",
            "pipeline")
GROUPS = PREFIXES + ("spatial.joins.containment", "pipeline.unfused",
                     "plans.lineage", "operators.lane_transform.reverse",
                     "spatial.joins.knn")
STATUS_UNITS = {"tasks": "count", "failed_tasks": "count", "gc_ms": "ms",
                "core_util": "ratio"}

PER_LAYER = {
    "input.rows": "count",
    "session.start_s": "s",
    "pipeline.first_job_s": "s",
    "pipeline.job_s": "s",
    "scan.job_s": "s",
    "operators.span_assembly.job_s": "s",
    "operators.span_assembly.cpu_s": "s",
    "operators.lane_transform.job_s": "s",
    "operators.lane_transform.cpu_s": "s",
    "operators.lane_transform.distinct_key_share": "ratio",
    "operators.lane_transform.arrow_batches": "count",
    "operators.lane_transform.reverse_job_s": "s",
    "spatial.joins.locale.fused_job_s": "s",
    "spatial.joins.locale.index_build_s": "s",
    "spatial.joins.locale.ns_per_row": "ns",
    "spatial.joins.locale.pip_share": "ratio",
    "spatial.joins.locale.unresolved_share": "ratio",
    "spatial.polygons.pip_ns_per_point": "ns",
    "core.tags_to_lanes.us_per_row": "us",
    "core.tags_to_lanes.error_share": "ratio",
    "core.lanes_to_tags.us_per_row": "us",
    "core.lanes_to_tags.error_share": "ratio",
    "spatial.joins.containment.job_s": "s",
    "spatial.joins.containment.shuffle_write_bytes": "B",
    "pipeline.unfused.write_s": "s",
    "plans.lineage.write_s": "s",
    "plans.lineage.read_s": "s",
    "plans.lineage.partitions": "count",
    "plans.lineage.output_bytes": "B",
    "plans.lineage.bytes_per_row": "B",
    "spatial.joins.knn.job_s": "s",
    "spatial.joins.knn.rows_per_s": "1/s",
    "spatial.joins.knn.spark_jobs": "count",
    "spatial.joins.knn.shuffle_write_bytes": "B",
    "spatial.cells.cover_polyline_us": "us",
    "spatial.cells.k_ring_us": "us",
    **{f"{g}.{k}": u for g in GROUPS for k, u in STATUS_UNITS.items()},
    "trace.rows_per_s_traced": "1/s",
    "trace.rows_per_s_untraced": "1/s",
    "trace.overhead_share": "ratio",
    "trace.spans": "count",
    "trace.sweep_self_s": "s",
}


@dataclass
class Context:
    spark: object
    store: object
    tracer: object
    tally: object
    cores: int
    inputs: Inputs
    paths: dict
    polygons: dict
    lanes: object
    work: Path


def sweep(ctx: Context) -> dict:
    values: dict = {}
    groups: dict[str, list[str]] = {g: [] for g in GROUPS}
    walls: dict[str, float] = {g: 0.0 for g in GROUPS}

    def call(layer: str, fn, rows: int = 0, check=None):
        """One engine call under its own span and job group."""
        with ctx.tracer.span(layer), ctx.store.group(layer) as group:
            if check is None:
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
            else:
                dt = ctx.tally.call(fn, rows, check)
        groups[layer].append(group)
        walls[layer] += dt
        return dt

    with ctx.tracer.span("sweep") as root:
        _prefixes(ctx, call, values, groups)
        _checkpoint_chain(ctx, call, values)
        _knn(ctx, call, values)
        _kernels(ctx, values)
    values["trace.sweep_self_s"] = self_times(ctx.tracer.spans)[root["id"]]

    for layer in GROUPS:
        m = ctx.store.metrics(groups[layer])
        values[f"{layer}.tasks"] = m["tasks"]
        values[f"{layer}.failed_tasks"] = m["failed_tasks"]
        values[f"{layer}.gc_ms"] = m["gc_ms"]
        values[f"{layer}.core_util"] = (m["run_ms"] / 1000.0
                                        / (walls[layer] * ctx.cores))
        if layer == "spatial.joins.knn":
            values["spatial.joins.knn.spark_jobs"] = m["jobs"]
        if layer in ("spatial.joins.knn", "spatial.joins.containment"):
            values[f"{layer}.shuffle_write_bytes"] = m["shuffle_write_bytes"]

    props = ctx.inputs.props
    values["input.rows"] = props["rows"]
    values["operators.lane_transform.distinct_key_share"] = props["distinct_key_share"]
    values["spatial.joins.locale.pip_share"] = props["pip_share"]
    values["spatial.joins.locale.unresolved_share"] = props["unresolved_share"]
    return values


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _prefixes(ctx: Context, call, values: dict, groups: dict) -> None:
    spark, polygons, lanes = ctx.spark, ctx.polygons, ctx.lanes
    path = ctx.paths["docs"]
    jobs = {
        "scan": lambda: _noop(spark.read.parquet(path)),
        "operators.span_assembly": lambda: _noop(with_tags(spark.read.parquet(path))),
        "operators.lane_transform":
            lambda: _noop(tags_to_lanes_stage(spark.read.parquet(path))),
        "pipeline": lambda: _noop(pipeline.lanes_pipeline(
            spark.read.parquet(path), polygons, level=LOCALE_LEVEL)),
    }
    times: dict[str, list[float]] = {p: [] for p in PREFIXES}
    for _ in range(PREFIX_REPS):
        for prefix in PREFIXES:
            times[prefix].append(call(prefix, jobs[prefix]))
    wall = {p: statistics.median(t) for p, t in times.items()}
    cpu = {p: ctx.store.metrics(groups[p])["cpu_ns"] / 1e9 / PREFIX_REPS
           for p in PREFIXES}
    values["scan.job_s"] = wall["scan"]
    values["operators.span_assembly.job_s"] = (
        wall["operators.span_assembly"] - wall["scan"])
    values["operators.span_assembly.cpu_s"] = (
        cpu["operators.span_assembly"] - cpu["scan"])
    values["operators.lane_transform.job_s"] = (
        wall["operators.lane_transform"] - wall["operators.span_assembly"])
    values["operators.lane_transform.cpu_s"] = (
        cpu["operators.lane_transform"] - cpu["operators.span_assembly"])
    values["spatial.joins.locale.fused_job_s"] = (
        wall["pipeline"] - wall["operators.lane_transform"])
    values["pipeline.job_s"] = wall["pipeline"]

    # the prefix outputs themselves: assembled tag maps and the lane rows
    # of the pre-resolved path, each checked once
    n = ctx.inputs.docs.num_rows
    expected_tags = [dict(tags, name=name) if name else dict(tags)
                     for (tags, _), name in zip(
                         (ctx.inputs.bases[b] for b in ctx.inputs.doc_base),
                         ctx.inputs.doc_names)]
    doc_ids = lanes.doc_ids

    def check_tags(out) -> int:
        got = dict(zip(out["doc_id"], out["tags"]))
        return sum(1 for d, want in zip(doc_ids, expected_tags)
                   if d not in got or dict(got[d]) != want) + len(out) - len(got)

    call("operators.span_assembly",
         lambda: with_tags(spark.read.parquet(path)).select("doc_id", "tags").toPandas(),
         n, check_tags)
    forward = lanes.forward(spark, n)
    call("operators.lane_transform",
         lambda: checker.forward_hash(
             tags_to_lanes_stage(spark.read.parquet(path))).toPandas(),
         n, lambda out: checker.count_failed(out, forward))
    values["operators.lane_transform.arrow_batches"] = sum(
        -(-len(part) // ARROW_BATCH) for part in np.array_split(
            np.arange(n), ctx.cores))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _checkpoint_chain(ctx: Context, call, values: dict) -> None:
    spark, polygons, lanes = ctx.spark, ctx.polygons, ctx.lanes
    n = min(PROBE_DOCS, ctx.inputs.docs.num_rows)
    docs = ctx.paths["probe_docs"]
    located = ctx.inputs.docs.column("iso_3166_2").to_pylist()[:n]
    want_key = dict(zip(lanes.doc_ids[:n], located))

    def check_keys(out) -> int:
        got = dict(zip(out["doc_id"], out["key"]))
        return (sum(1 for d, k in want_key.items() if d not in got or got[d] != k)
                + len(out) - len(got))

    values["spatial.joins.containment.job_s"] = call(
        "spatial.joins.containment",
        lambda: containment_join(spark.read.parquet(docs), polygons,
                                 level=LOCALE_LEVEL, strategy="broadcast")
        .select("doc_id", "key").toPandas(), n, check_keys)

    first, second = str(ctx.work / "checkpoint_a"), str(ctx.work / "checkpoint_b")
    summary = {}

    def forward_write():
        summary.update(write_checkpoint(pipeline.lanes_pipeline(
            spark.read.parquet(docs), polygons, level=LOCALE_LEVEL,
            strategy="broadcast", fused=False), first))

    values["pipeline.unfused.write_s"] = call("pipeline.unfused", forward_write)
    values["plans.lineage.partitions"] = summary["partitions"]
    values["plans.lineage.output_bytes"] = _dir_bytes(first)
    values["plans.lineage.bytes_per_row"] = _dir_bytes(first) / n
    values["plans.lineage.write_s"] = call(
        "plans.lineage", lambda: write_checkpoint(spark.read.parquet(first), second))

    def never():
        raise RuntimeError(f"checkpoint {first} is incomplete")

    forward = lanes.forward(spark, n)
    values["plans.lineage.read_s"] = call(
        "plans.lineage",
        lambda: checker.forward_hash(resumable(spark, first, never)).toPandas(),
        n, lambda out: checker.count_failed(out, forward))
    reverse = lanes.reverse(spark, n)
    values["operators.lane_transform.reverse_job_s"] = call(
        "operators.lane_transform.reverse",
        lambda: checker.reverse_hash(lanes_to_tags_stage(
            resumable(spark, first, never), check_roundtrip=False)).toPandas(),
        n, lambda out: checker.count_failed(out, reverse))


def _knn(ctx: Context, call, values: dict) -> None:
    job = KnnJob(ctx.inputs, ctx.paths)
    dt = call("spatial.joins.knn", lambda: job.run(ctx.spark), job.rows, job.failed)
    values["spatial.joins.knn.job_s"] = dt
    values["spatial.joins.knn.rows_per_s"] = job.rows / dt


def _median_time(fn, reps: int = KERNEL_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _kernels(ctx: Context, values: dict) -> None:
    """In-process row, polygon and cell kernels on this workload's inputs."""
    tracer, inputs, polygons = ctx.tracer, ctx.inputs, ctx.polygons
    lon = inputs.docs.column("lon").to_numpy()
    lat = inputs.docs.column("lat").to_numpy()

    with tracer.span("spatial.joins.locale"):
        values["spatial.joins.locale.index_build_s"] = _median_time(
            lambda: make_locale_resolver(polygons, LOCALE_LEVEL))
        resolver = make_locale_resolver(polygons, LOCALE_LEVEL)
        doc_cells = cells.encode(lon, lat, LOCALE_LEVEL)
        values["spatial.joins.locale.ns_per_row"] = 1e9 * _median_time(
            lambda: resolver(doc_cells, lon, lat)) / len(lon)

    with tracer.span("spatial.polygons"):
        rings = list(polygons.values())
        values["spatial.polygons.pip_ns_per_point"] = 1e9 * _median_time(
            lambda: [P.point_in_polygon(lon, lat, ring) for ring in rings]
        ) / (len(lon) * len(rings))

    # distinct (tags, locale) inputs of the workload, as the memo sees them
    distinct, seen = [], set()
    for i, b in enumerate(inputs.doc_base):
        tags, a2 = inputs.bases[b]
        name = inputs.doc_names[i]
        key = (b, name)
        if key not in seen:
            seen.add(key)
            distinct.append((dict(tags, name=name) if name else dict(tags),
                             checker.locale_of(a2)))
            if len(distinct) == KERNEL_SAMPLE:
                break
    # few distinct inputs (a dictionary workload) are cycled to the sample size
    distinct = (distinct * -(-KERNEL_SAMPLE // len(distinct)))[:KERNEL_SAMPLE]

    roads, errors = [], 0
    with tracer.span("core.tags_to_lanes"):
        t0 = time.perf_counter()
        for tags, locale in distinct:
            try:
                roads.append(tags_to_lanes(dict(tags), locale)["road"])
            except RoadError:
                errors += 1
        values["core.tags_to_lanes.us_per_row"] = (
            1e6 * (time.perf_counter() - t0) / len(distinct))
    values["core.tags_to_lanes.error_share"] = errors / len(distinct)

    # the reverse kernel reads lanes as they come back from a checkpoint
    carried = [{"highway": r["highway"], "lifecycle": r["lifecycle"],
                "lanes": [checker.lane_from_row(checker.lane_row(l))
                          for l in r["lanes"]]} for r in roads]
    errors = 0
    with tracer.span("core.lanes_to_tags"):
        t0 = time.perf_counter()
        for road in carried:
            try:
                lanes_to_tags(road, Locale.build(None, None), check_roundtrip=False)
            except Exception:  # every kernel error counts the same here
                errors += 1
        values["core.lanes_to_tags.us_per_row"] = (
            1e6 * (time.perf_counter() - t0) / max(1, len(carried)))
    values["core.lanes_to_tags.error_share"] = errors / max(1, len(carried))

    with tracer.span("spatial.cells"):
        lines = inputs.way_lines
        values["spatial.cells.cover_polyline_us"] = 1e6 * _median_time(
            lambda: [cells.cover_polyline(line, KNN_LEVEL) for line in lines]
        ) / len(lines)
        query_cells = cells.encode(inputs.queries.column("lon").to_numpy(),
                                   inputs.queries.column("lat").to_numpy(),
                                   KNN_LEVEL).tolist()
        values["spatial.cells.k_ring_us"] = 1e6 * _median_time(
            lambda: [cells.k_ring(c, KNN_RING) for c in query_cells]
        ) / len(query_cells)
