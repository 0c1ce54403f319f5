"""Seeded input generators, one per workload.

Everything is derived from in-repo fixtures: the 46 enabled golden cases
(``fixtures/golden_fixture/documents.parquet``), the synthetic country
polygons (``fixtures.geography``) and the 41-country locale dim. The same
``(workload, seed)`` always produces byte-identical parquet inputs; the
engine only ever sees those files.

Each workload fixes the input properties the engine's cost depends on:
how many rows share a (tags, locale, config) memo key, how many points land
in polygon-boundary cells (the PIP refinement path) or outside every
polygon, and how dense the ways around a kNN query are.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osm2lanes_spark.core.locale import COUNTRIES
from osm2lanes_spark.fixtures.geography import (all_country_polygons,
                                                country_centroid)
from osm2lanes_spark.spatial import cells
from osm2lanes_spark.spatial.joins import polygon_cells_pdf

from . import checker

ROOT = Path(__file__).resolve().parent.parent
GOLDEN_DOCS = (ROOT / "osm2lanes_spark" / "fixtures" / "golden_fixture"
               / "documents.parquet")

LOCALE_LEVEL = 10     # cell level of the locale join (the paper's default)
KNN_LEVEL = 12        # cell level of the kNN join
KNN_K = 3
INTERIOR_RADIUS = 2.0  # deg; every polygon edge is >= 2.6 deg from its centroid
CITY_RADIUS = 1.0      # deg; ways and queries cluster around each centroid
WAY_STEP = 0.01        # deg; max vertex-to-vertex step of a 4-vertex way
EDGE_CLEARANCE = 1e-7  # deg; no point this close to a polygon edge
WARM_DOCS = 256        # docs of the first, cold call of each set-up
PROBE_DOCS = 4000      # docs of the checkpoint chain in the traced sweep
PROBE_WAYS, PROBE_QUERIES = 2000, 64  # kNN inputs of the traced sweep

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])
POINT = pa.struct([("lon", pa.float64()), ("lat", pa.float64())])


@dataclass(frozen=True)
class Spec:
    """Sizes and input mix of one workload."""

    docs: int
    distinct_tags: bool    # a unique name tag per doc: the memo never hits
    boundary_share: float  # points drawn inside polygon-boundary cells
    outside_share: float   # points drawn outside every polygon


SPECS = {
    "lanes_dict": Spec(24000, False, 0.0, 0.0),
    "lanes_distinct_border": Spec(10000, True, 0.35, 0.05),
}


@dataclass
class Inputs:
    """Generated tables plus what the checker needs to know about them."""

    docs: pa.Table          # doc_id, spans, lon, lat, iso_3166_2, driving_side
    doc_base: np.ndarray    # per doc: index into ``bases``
    doc_names: list         # per doc: its name tag (or None)
    bases: list             # (tags without the unique name, alpha2 or None)
    ways: pa.Table          # way_id, geometry
    way_lines: np.ndarray   # (W, 4, 2) vertices of ``ways``
    queries: pa.Table       # query_id, lon, lat
    props: dict


def golden_cases() -> list[tuple[list, dict, str]]:
    """(spans, tags, home country) of each enabled golden case.

    Cases without an ISO code get the fixture country of their driving
    side, so every case resolves to one real locale.
    """
    cases = []
    for row in pq.read_table(GOLDEN_DOCS).to_pylist():
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        tags = dict(s["text"].split("=", 1) for s in spans if s["kind"] == "tag")
        home = (row["iso_3166_2"] or "").split("-")[0]
        if not home:
            home = "GB" if row["driving_side"] == "left" else "US"
        cases.append((row["spans"], tags, home))
    return cases


def _edge_distance(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    return checker.segment_distance(lon, lat, np.vstack([ring, ring[:1]]))


def _points(rng: np.random.Generator, homes: np.ndarray, kinds: np.ndarray,
            polygons: dict, boundary: dict) -> tuple[np.ndarray, np.ndarray]:
    """One point per row: 0 = interior, 1 = boundary cell, 2 = outside."""
    n = len(homes)
    centre = np.array([country_centroid(a2) for a2 in homes]).reshape(n, 2)
    radius = INTERIOR_RADIUS * np.sqrt(rng.random(n))
    theta = 2.0 * np.pi * rng.random(n)
    lon = centre[:, 0] + radius * np.cos(theta)
    lat = centre[:, 1] + radius * np.sin(theta)
    # outside: the gap between grid slots, > 5.4 deg from every centroid
    sign = rng.choice([-1.0, 1.0], size=(n, 2))
    gap = np.stack([rng.uniform(5.8, 8.2, n), rng.uniform(5.4, 6.6, n)], axis=1)
    out = kinds == 2
    lon[out] = centre[out, 0] + sign[out, 0] * gap[out, 0]
    lat[out] = centre[out, 1] + sign[out, 1] * gap[out, 1]
    for a2 in sorted(set(homes[kinds == 1])):
        rows = np.flatnonzero((kinds == 1) & (homes == a2))
        while len(rows):
            picked = boundary[a2][rng.integers(len(boundary[a2]), size=len(rows))]
            x0, y0, x1, y1 = cells.cell_bounds(picked)
            lon[rows] = rng.uniform(x0, x1)
            lat[rows] = rng.uniform(y0, y1)
            near = _edge_distance(lon[rows], lat[rows], polygons[a2]) < EDGE_CLEARANCE
            rows = rows[near]
    return lon, lat


def _ways(rng: np.random.Generator, n: int) -> tuple[pa.Table, np.ndarray]:
    a2s = sorted(COUNTRIES)
    centre = np.array([country_centroid(a2s[i])
                       for i in rng.integers(len(a2s), size=n)]).reshape(n, 2)
    radius = CITY_RADIUS * np.sqrt(rng.random(n))
    theta = 2.0 * np.pi * rng.random(n)
    start = centre + np.stack([radius * np.cos(theta), radius * np.sin(theta)], 1)
    steps = rng.uniform(-WAY_STEP, WAY_STEP, size=(n, 3, 2))
    lines = np.concatenate([start[:, None, :], start[:, None, :] + np.cumsum(steps, 1)], 1)
    geometry = [[{"lon": float(x), "lat": float(y)} for x, y in line] for line in lines]
    table = pa.table({"way_id": [f"w{i:06d}" for i in range(n)],
                      "geometry": pa.array(geometry, pa.list_(POINT))})
    return table, lines


def _queries(rng: np.random.Generator, n: int) -> pa.Table:
    a2s = sorted(COUNTRIES)
    centre = np.array([country_centroid(a2s[i])
                       for i in rng.integers(len(a2s), size=n)]).reshape(n, 2)
    radius = CITY_RADIUS * np.sqrt(rng.random(n))
    theta = 2.0 * np.pi * rng.random(n)
    return pa.table({"query_id": [f"q{i:05d}" for i in range(n)],
                     "lon": centre[:, 0] + radius * np.cos(theta),
                     "lat": centre[:, 1] + radius * np.sin(theta)})


def split_share(keys: list, partitions: int) -> float:
    """Distinct keys per contiguous partition, summed, over rows: the share
    of rows that miss a per-partition memo."""
    bounds = np.linspace(0, len(keys), partitions + 1).astype(int)
    distinct = sum(len(set(keys[a:b])) for a, b in zip(bounds[:-1], bounds[1:]))
    return distinct / max(1, len(keys))


def generate(workload: str, seed: int, partitions: int) -> Inputs:
    spec = SPECS[workload]
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    polygons = all_country_polygons()
    cover = polygon_cells_pdf(polygons, LOCALE_LEVEL)
    edge = cover[~cover["full"]]
    boundary = {a2: np.sort(g["cell"].to_numpy()) for a2, g in edge.groupby("key")}

    cases = golden_cases()
    n = spec.docs
    case_of = rng.integers(len(cases), size=n)
    if spec.distinct_tags:
        homes = np.array(sorted(COUNTRIES))[rng.integers(len(COUNTRIES), size=n)]
    else:
        homes = np.array([cases[c][2] for c in case_of])
    u = rng.random(n)
    kinds = np.where(u < spec.boundary_share, 1,
                     np.where(u < spec.boundary_share + spec.outside_share, 2, 0))
    lon, lat = _points(rng, homes, kinds, polygons, boundary)
    located = checker.locate(lon, lat, polygons)

    spans, names, keys, base_of, doc_base = [], [], [], {}, np.empty(n, np.int64)
    for i in range(n):
        case_spans, tags, _ = cases[case_of[i]]
        if spec.distinct_tags:
            name = f"Way {seed}.{i}"
            text = f"name={name}"
            doc_spans = [dict(s, text=text) if s["kind"] == "tag"
                         and s["text"].startswith("name=") else s
                         for s in case_spans]
            if "name" not in tags:
                doc_spans.append({"kind": "tag", "text": text, "media_ref": None,
                                  "offset": 1 + max(s["offset"] for s in case_spans)})
        else:
            name, doc_spans = tags.get("name"), case_spans
        spans.append(doc_spans)
        names.append(name)
        base_key = (int(case_of[i]), located[i])
        doc_base[i] = base_of.setdefault(base_key, len(base_of))
        keys.append((base_key, name))
    bases = [(cases[c][1], a2) for c, a2 in base_of]

    docs = pa.table({
        "doc_id": [f"d{i:07d}" for i in range(n)],
        "spans": pa.array(spans, pa.list_(SPAN)),
        "lon": lon, "lat": lat,
        "iso_3166_2": pa.array(located.tolist(), pa.string()),
        "driving_side": pa.array([COUNTRIES[a][2] if a else None for a in located],
                                 pa.string()),
    })
    ways, way_lines = _ways(rng, PROBE_WAYS)
    queries = _queries(rng, PROBE_QUERIES)

    edge_cells = set(edge["cell"].tolist())
    doc_cells = cells.encode(lon, lat, LOCALE_LEVEL)
    props = {
        "rows": n,
        "distinct_key_share": split_share(keys, partitions),
        "pip_share": float(np.mean([c in edge_cells for c in doc_cells.tolist()])),
        "unresolved_share": float(np.mean([a is None for a in located])),
        "ways": PROBE_WAYS,
        "queries": PROBE_QUERIES,
    }
    return Inputs(docs, doc_base, names, bases, ways, way_lines, queries, props)


def _write_split(table: pa.Table, out: Path, partitions: int) -> str:
    """One parquet file (= one scan partition) per contiguous slice."""
    out.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, partitions + 1).astype(int)
    for p, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(a, b - a), out / f"part-{p:03d}.parquet")
    return str(out)


def write(inputs: Inputs, out: Path, partitions: int) -> dict[str, str]:
    """Write every table the benchmark feeds the engine; returns paths."""
    docs, ways, queries = inputs.docs, inputs.ways, inputs.queries
    tables = {
        "docs": (docs, partitions),
        # the unfused path adds the locale columns itself
        "probe_docs": (docs.slice(0, PROBE_DOCS).select(
            ["doc_id", "spans", "lon", "lat"]), partitions),
        "ways": (ways, partitions),
        "queries": (queries, partitions),
        "warm_docs": (docs.slice(0, WARM_DOCS), 1),
    }
    return {name: _write_split(t, out / name, p) for name, (t, p) in tables.items()}
