"""Independent expected outputs for every engine call the benchmark makes.

Nothing here runs the engine's Spark stages. Expected rows come from the
pure-Python row kernels (``core.tags_to_lanes`` / ``core.lanes_to_tags``)
called in-process once per distinct base input, with the locale found by
brute-force ray casting over every country polygon, and kNN answers come
from a brute-force scan of every way. The Spark side only hashes: actual
and expected rows go through the same ``xxhash64`` projection
(:func:`forward_hash` / :func:`reverse_hash`), and :func:`count_failed`
compares the two per key.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd

from osm2lanes_spark.core.lanes_to_tags import lanes_to_tags
from osm2lanes_spark.core.locale import COUNTRIES, Locale
from osm2lanes_spark.core.model import RoadError
from osm2lanes_spark.core.tags_to_lanes import tags_to_lanes

ACCESS_MODES = ("foot", "bicycle", "taxi", "bus", "motor")
ROAD_FIELDS = ("name", "ref", "highway", "lifecycle", "lit", "tracktype",
               "smoothness", "lanes", "warnings", "error")


# ---------------------------------------------------------------------------
# Geometry: brute force, written independently of spatial.polygons
# ---------------------------------------------------------------------------

def inside(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray casting of points against one (V, 2) ring."""
    inside_ = np.zeros(len(lon), dtype=bool)
    xs, ys = ring[:, 0], ring[:, 1]
    for i in range(len(ring)):
        xa, ya = xs[i], ys[i]
        xb, yb = xs[(i + 1) % len(ring)], ys[(i + 1) % len(ring)]
        if ya == yb:
            continue
        straddles = (ya > lat) != (yb > lat)
        x_cross = (xb - xa) * (lat - ya) / (yb - ya) + xa
        inside_ ^= straddles & (lon < x_cross)
    return inside_


def locate(lon: np.ndarray, lat: np.ndarray,
           polygons: dict[str, np.ndarray]) -> np.ndarray:
    """alpha2 of the polygon holding each point (smallest key wins), or None."""
    out = np.full(len(lon), None, dtype=object)
    for key in sorted(polygons, reverse=True):  # smallest key written last
        out[inside(lon, lat, polygons[key])] = key
    return out


def segment_distance(px: np.ndarray, py: np.ndarray,
                     line: np.ndarray) -> np.ndarray:
    """Euclidean distance in degrees from points to one (V, 2) polyline."""
    best = np.full(len(px), np.inf)
    for (ax, ay), (bx, by) in zip(line[:-1], line[1:]):
        dx, dy = bx - ax, by - ay
        length2 = dx * dx + dy * dy
        t = np.zeros(len(px)) if length2 == 0.0 else np.clip(
            ((px - ax) * dx + (py - ay) * dy) / length2, 0.0, 1.0)
        best = np.minimum(best, np.hypot(px - (ax + t * dx), py - (ay + t * dy)))
    return best


def distance_matrix(qlon: np.ndarray, qlat: np.ndarray,
                    lines: np.ndarray) -> np.ndarray:
    """(Q, W) distance from every query to every way; ``lines`` is (W, V, 2)."""
    dist = np.empty((len(qlon), len(lines)))
    for w, line in enumerate(lines):
        dist[:, w] = segment_distance(qlon, qlat, line)
    return dist


# ---------------------------------------------------------------------------
# Lane rows: internal lane dicts <-> the ROAD_SCHEMA row shape
# ---------------------------------------------------------------------------

def lane_row(lane: dict) -> dict:
    """Kernel lane dict -> the full-key ``LANE_TYPE`` struct the stage emits."""
    access = lane.get("access")
    if access is not None:
        access = {m: None if access.get(m) is None else
                  {"access": access[m].get("access"),
                   "direction": access[m].get("direction")}
                  for m in ACCESS_MODES}
    markings = lane.get("markings")
    if markings is not None:
        markings = [{"style": m.get("style"), "width": m.get("width"),
                     "color": m.get("color")} for m in markings]
    speed = lane.get("max_speed")
    return {"type": lane.get("type"), "direction": lane.get("direction"),
            "designated": lane.get("designated"), "width": lane.get("width"),
            "max_speed": None if speed is None else
            {"unit": speed[0], "value": speed[1]},
            "access": access, "semantic": lane.get("semantic"),
            "markings": markings}


def lane_from_row(row: dict) -> dict:
    """``LANE_TYPE`` struct -> the sparse lane dict the reverse kernel reads."""
    out = {"type": row["type"]}
    for key in ("direction", "designated", "width", "semantic"):
        if row[key] is not None:
            out[key] = row[key]
    if row["max_speed"] is not None:
        out["max_speed"] = (row["max_speed"]["unit"], row["max_speed"]["value"])
    if row["access"] is not None:
        access = {}
        for mode in ACCESS_MODES:
            entry = row["access"][mode]
            if entry is not None:
                access[mode] = {"access": entry["access"]}
                if entry["direction"] is not None:
                    access[mode]["direction"] = entry["direction"]
        if access:
            out["access"] = access
    if row["markings"] is not None:
        out["markings"] = [{k: m[k] for k in ("style", "width", "color")
                            if m[k] is not None} for m in row["markings"]]
    return out


def locale_of(alpha2: Optional[str]) -> Locale:
    """The locale the engine derives from a resolved country (or none)."""
    side = COUNTRIES[alpha2][2] if alpha2 else None
    return Locale.build(alpha2, side)


def forward_row(tags: dict, alpha2: Optional[str]) -> dict:
    """Expected ROAD_SCHEMA row (minus ``doc_id``) for one way."""
    row = dict.fromkeys(ROAD_FIELDS)
    try:
        result = tags_to_lanes(dict(tags), locale_of(alpha2))
    except RoadError as e:
        row["error"] = e.kind
        return row
    road = result["road"]
    row.update({k: road[k] for k in ROAD_FIELDS[:7]})
    row["lanes"] = [lane_row(lane) for lane in road["lanes"]]
    row["warnings"] = [f"{w['kind']}:{w['detail']}" for w in result["warnings"]]
    return row


def reverse_row(forward: dict) -> dict:
    """Expected TAGS_SCHEMA row (minus ``doc_id``) for a forward row read
    back from a checkpoint, which carries no locale columns."""
    road = {"highway": forward["highway"], "lifecycle": forward["lifecycle"],
            "lanes": [lane_from_row(l) for l in forward["lanes"] or []]}
    try:
        return {"tags": lanes_to_tags(road, Locale.build(None, None),
                                      check_roundtrip=False), "error": None}
    except Exception as e:  # the stage records any kernel error as a string
        return {"tags": None, "error": f"{type(e).__name__}: {e}"}


# ---------------------------------------------------------------------------
# Spark-side hashing and comparison
# ---------------------------------------------------------------------------

def forward_hash(df):
    """(doc_id, h) with h an xxhash64 over every ROAD_SCHEMA column."""
    from pyspark.sql import functions as F

    return df.select("doc_id", F.xxhash64("doc_id", *ROAD_FIELDS).alias("h"))


def reverse_hash(df):
    """(doc_id, h) over TAGS_SCHEMA; map entries sorted so order is moot."""
    from pyspark.sql import functions as F

    entries = F.array_sort(F.map_entries("tags"))
    return df.select("doc_id", F.xxhash64("doc_id", entries, "error").alias("h"))


def count_failed(actual: pd.DataFrame, expected: dict) -> int:
    """Keys missing, duplicated, unexpected or hashing differently.

    ``actual``: columns (doc_id, h); ``expected``: doc_id -> h.
    """
    got = dict(zip(actual["doc_id"], actual["h"]))
    duplicated = len(actual) - len(got)
    wrong = sum(1 for key, h in got.items() if expected.get(key) != h)
    missing = sum(1 for key in expected if key not in got)
    return duplicated + wrong + missing


def expected_hashes(expected, hash_fn) -> dict:
    """doc_id -> hash of a DataFrame of independently computed rows."""
    pdf = hash_fn(expected).toPandas()
    return dict(zip(pdf["doc_id"], pdf["h"]))


def knn_failed(actual: pd.DataFrame, query_ids: np.ndarray,
               way_ids: np.ndarray, dist: np.ndarray, k: int) -> int:
    """Queries whose answer is not an exact k-nearest set.

    ``actual``: (query_id, way_id, dist, rank) rows of one knn_join;
    ``dist``: the brute-force (Q, W) matrix over ``way_ids``. Each answer
    must hold ranks 1..k, report each way's true distance, and match the
    k smallest true distances, so ties may resolve either way.
    """
    column = {w: i for i, w in enumerate(way_ids)}
    got = {q: g.sort_values("rank") for q, g in actual.groupby("query_id")}
    failed = 0
    for qi, q in enumerate(query_ids):
        g = got.pop(q, None)
        if g is None or list(g["rank"]) != list(range(1, k + 1)):
            failed += 1
            continue
        cols = [column.get(w, -1) for w in g["way_id"]]
        reported = g["dist"].to_numpy()
        nearest = np.sort(np.partition(dist[qi], k - 1)[:k])
        ok = (min(cols) >= 0 and len(set(cols)) == k
              and np.allclose(dist[qi, cols], reported, rtol=1e-9, atol=1e-12)
              and np.allclose(reported, nearest, rtol=1e-9, atol=1e-12))
        failed += int(not ok)
    return failed + len(got)
