"""The one locale kernel (``LocaleResolver`` + ``refine``) behind every
containment path: differential checks against brute-force PIP on
overlapping polygons, and the null/NaN coordinate rule."""

from __future__ import annotations

import math

import numpy as np
import pytest

from osm2lanes_spark.core.locale import COUNTRIES
from osm2lanes_spark.fixtures.golden import tags_to_spans
from osm2lanes_spark.pipeline import lanes_pipeline
from osm2lanes_spark.spatial import cells as C
from osm2lanes_spark.spatial import polygons as P
from osm2lanes_spark.spatial.joins import (containment_join,
                                           make_locale_resolver)

STRATEGIES = ["map", "broadcast"]
LEVEL = 8  # 1.4° x 0.7° cells: most cells near the polygons are boundary cells

# FR and DE overlap on [2, 4]²; GB shares FR's edge x=4 (y in [0, 3]) and
# its vertex (4, 0). Keys are real countries so driving sides resolve too.
OVERLAP = {
    "FR": np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]),
    "DE": np.array([[2.0, 2.0], [6.0, 2.0], [6.0, 6.0], [2.0, 6.0]]),
    "GB": np.array([[4.0, 0.0], [8.0, 0.0], [4.0, 3.0]]),
}


def _brute(lon, lat, polygons):
    """Min key over every ring whose PIP is true, and its driving side."""
    keys, sides = [], []
    for x, y in zip(lon, lat):
        hits = [k for k in sorted(polygons)
                if P.point_in_polygon(np.array([x]), np.array([y]),
                                      polygons[k])[0]]
        keys.append(hits[0] if hits else None)
        sides.append(COUNTRIES[hits[0]][2] if hits else None)
    return keys, sides


@pytest.fixture(scope="module")
def overlap_points():
    """Seeded points around the three polygons, plus points on FR/GB's
    shared edge, on the shared vertex and on every polygon vertex."""
    rng = np.random.default_rng(20260)
    lon = list(rng.uniform(-1.0, 9.0, 600))
    lat = list(rng.uniform(-1.0, 7.0, 600))
    edge_y = rng.uniform(0.0, 3.0, 20)
    lon += [4.0] * len(edge_y)
    lat += list(edge_y)
    for ring in OVERLAP.values():
        lon += list(ring[:, 0])
        lat += list(ring[:, 1])
    # DE's left and bottom edges inside FR
    lon += [2.0, 3.0, 2.0]
    lat += [3.0, 2.0, 2.5]
    return np.array(lon), np.array(lat)


def test_resolver_matches_brute_force(overlap_points):
    lon, lat = overlap_points
    # some cells are in two coverings: FR/DE overlap, FR/GB share an edge
    covers = [set(P.cover_polygon(r, LEVEL).tolist()) for r in OVERLAP.values()]
    assert covers[0] & covers[1] and covers[0] & covers[2]
    resolver = make_locale_resolver(OVERLAP, LEVEL)
    iso, side = resolver(C.encode(lon, lat, LEVEL), lon, lat)
    want_iso, want_side = _brute(lon, lat, OVERLAP)
    assert list(iso) == want_iso
    assert list(side) == want_side
    # the tie rule ran: some point is inside both FR and DE and got DE
    both = (P.point_in_polygon(lon, lat, OVERLAP["FR"])
            & P.point_in_polygon(lon, lat, OVERLAP["DE"]))
    assert both.any() and set(iso[both]) == {"DE"}


def _point_id(i):
    """Ids repeat and are null on some rows: a point id is a label, not a
    row key."""
    return None if i % 7 == 0 else "dup" if i % 5 == 0 else f"p{i}"


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_containment_join_matches_brute_force(spark, overlap_points, strategy):
    """Every row comes back once, with its own columns and the brute-force
    key, whatever its id."""
    lon, lat = overlap_points
    rows = [(_point_id(i), i, float(x), float(y))
            for i, (x, y) in enumerate(zip(lon, lat))]
    df = spark.createDataFrame(rows,
                               "doc_id string, i int, lon double, lat double")
    out = containment_join(df, OVERLAP, level=LEVEL, strategy=strategy).collect()
    assert len(out) == len(rows)
    got = {r["i"]: (r["doc_id"], r["lon"], r["lat"], r["key"]) for r in out}
    want, _ = _brute(lon, lat, OVERLAP)
    assert [got[i] for i in range(len(rows))] == [
        (d, x, y, k) for (d, _, x, y), k in zip(rows, want)]


# --- null / NaN coordinates ------------------------------------------------

# NZ reaches past the world's south-west corner, so the corner cell
# (x=0, y=0), where a null or NaN coordinate used to land, is a full cell:
# no PIP would reject the NaN.
CORNER = {
    "NZ": np.array([[-185.0, -95.0], [-170.0, -95.0], [-170.0, -80.0],
                    [-185.0, -80.0]]),
    "FR": OVERLAP["FR"],
}
NAN = float("nan")
COORDS = [("in_nz", -175.0, -85.0), ("in_fr", 1.0, 1.0),
          ("null_both", None, None), ("null_lon", None, 1.0),
          ("null_lat", 1.0, None), ("nan_both", NAN, NAN),
          ("nan_lon", NAN, -85.0), ("nan_lat", -175.0, NAN)]
WANT = {"in_nz": "NZ", "in_fr": "FR"}


@pytest.fixture(scope="module")
def null_docs(spark):
    spans = tags_to_spans("x", {"highway": "residential"})
    return spark.createDataFrame(
        [(d, spans, x, y) for d, x, y in COORDS],
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "lon double, lat double")


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_null_nan_coordinates_unresolved(null_docs, strategy):
    out = containment_join(null_docs.drop("spans"), CORNER, level=LEVEL,
                           strategy=strategy)
    got = {r["doc_id"]: r["key"] for r in out.collect()}
    assert got == {d: WANT.get(d) for d, _, _ in COORDS}


@pytest.mark.parametrize("nulls", [None, NAN])
def test_resolver_null_cell_unresolved(nulls):
    """A null cell (pandas hands Arrow nulls over as None or NaN) has no
    candidates."""
    resolver = make_locale_resolver(CORNER, LEVEL)
    lon = np.array([-175.0, -175.0, 1.0, NAN])
    lat = np.array([-85.0, -85.0, 1.0, NAN])
    corner = int(C.encode(np.array([-180.0]), np.array([-90.0]), LEVEL)[0])
    cells = np.array([int(C.encode(lon[:1], lat[:1], LEVEL)[0]), nulls,
                      int(C.encode(lon[2:3], lat[2:3], LEVEL)[0]), nulls],
                     dtype=object if nulls is None else np.float64)
    at_corner = resolver.cells == corner
    assert at_corner.any() and resolver.full[at_corner].all()
    iso, side = resolver(cells, lon, lat)
    assert list(iso) == ["NZ", None, "FR", None]
    assert list(side) == ["left", None, "right", None]


def test_fused_pipeline_null_nan_coordinates(null_docs):
    out = lanes_pipeline(null_docs, CORNER, level=LEVEL, fused=True).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(d for d, _, _ in COORDS)
    assert all(r["error"] is None for r in out)


def test_cell_expr_null_nan(spark, null_docs):
    from osm2lanes_spark.spatial.joins import with_cell

    got = {r["doc_id"]: r["cell"] for r in with_cell(null_docs, LEVEL).collect()}
    for d, x, y in COORDS:
        bad = x is None or y is None or math.isnan(x) or math.isnan(y)
        assert (got[d] is None) == bad, d


# Above level 24 a cell id near the world's north-east corner needs more
# than 53 bits: a cell column that turns float64 (a null in the batch)
# loses them, and every row of that batch resolves to no polygon.
FINE_LEVEL = 26
TINY = {
    "GB": np.array([[179.0, 89.0], [179.0002, 89.0], [179.0002, 89.0002],
                    [179.0, 89.0002]]),
    "NL": np.array([[179.0003, 89.0], [179.0005, 89.0], [179.0005, 89.0002],
                    [179.0003, 89.0002]]),
}


def test_containment_join_fine_level_null_row(spark):
    rng = np.random.default_rng(26)
    lon = rng.uniform(178.9999, 179.0006, 200)
    lat = rng.uniform(88.9999, 89.0003, 200)
    rows = [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))]
    # one partition, so the null row shares its batch with every point
    df = spark.createDataFrame(rows + [("null", None, None)],
                               "doc_id string, lon double, lat double").coalesce(1)
    got = {r["doc_id"]: r["key"] for r in
           containment_join(df, TINY, level=FINE_LEVEL, strategy="map").collect()}
    want, _ = _brute(lon, lat, TINY)
    assert {"GB", "NL"} <= set(want)
    assert got == {**{d: k for (d, _, _), k in zip(rows, want)}, "null": None}


def test_fused_pipeline_fine_level_null_row(spark):
    spans = tags_to_spans("x", {"highway": "primary", "lanes": "2"})
    docs = spark.createDataFrame(
        [("gb1", spans, 179.0001, 89.0001), ("gb2", spans, 179.00005, 89.00015),
         ("null", spans, None, None)],
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "lon double, lat double").coalesce(1)
    out = {r["doc_id"]: r for r in
           lanes_pipeline(docs, TINY, level=FINE_LEVEL).collect()}
    for doc, width in (("gb1", 3.0), ("gb2", 3.0), ("null", 3.5)):
        widths = {l["width"] for l in out[doc]["lanes"] if l["width"] is not None}
        assert widths == {width}, doc


# --- index memo and broadcast ----------------------------------------------

def _copy(polygons):
    return {k: np.array(v) for k, v in polygons.items()}


def test_resolver_memo_hits_equal_content():
    """An equal dict built anew (fresh arrays, another insertion order)
    gets the same index."""
    first = make_locale_resolver(_copy(OVERLAP), LEVEL)
    again = dict(reversed(list(_copy(OVERLAP).items())))
    assert make_locale_resolver(again, LEVEL) is first


@pytest.mark.parametrize("change", ["ring_edit", "level"])
def test_resolver_memo_rebuilds(overlap_points, change):
    """An in-place ring edit, or another level, gives a fresh index whose
    keys match brute-force PIP; the old index keeps its own rings."""
    polygons = _copy(OVERLAP)
    first = make_locale_resolver(polygons, LEVEL)
    level = LEVEL
    if change == "ring_edit":
        polygons["FR"][2] = [5.0, 5.0]  # FR now reaches into DE and GB
    else:
        level = LEVEL + 2
    fresh = make_locale_resolver(polygons, level)
    assert fresh is not first and fresh.level == level
    lon, lat = overlap_points
    iso, _ = fresh(C.encode(lon, lat, level), lon, lat)
    assert list(iso) == _brute(lon, lat, polygons)[0]
    old_iso, _ = first(C.encode(lon, lat, LEVEL), lon, lat)
    assert list(old_iso) == _brute(lon, lat, OVERLAP)[0]


def test_resolver_memo_threads():
    """Driver threads sharing the memo — more threads than cores, a short
    switch interval, more contents than memo slots, so entries are evicted
    while others look them up — each get the index of their own content,
    and the memo never outgrows its bound."""
    import sys
    import threading

    from osm2lanes_spark.spatial import joins

    contents = [{"FR": OVERLAP["FR"] + i} for i in range(7)]
    errors, finished = [], []

    def work(t):
        try:
            for j in range(20):
                i = (t + j) % len(contents)
                index = make_locale_resolver(contents[i], LEVEL)
                if (not np.array_equal(index.rings[0], contents[i]["FR"])
                        or len(joins._RESOLVERS) > joins._RESOLVER_MEMO):
                    errors.append((t, j))
            finished.append(t)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and sorted(finished) == list(range(16))


def test_fused_call_reuses_broadcast(spark, null_docs, monkeypatch):
    """A second fused call on the same context ships no new broadcast."""
    first = lanes_pipeline(null_docs, CORNER, level=LEVEL).collect()
    made = []
    sc_type = type(spark.sparkContext)
    original = sc_type.broadcast
    monkeypatch.setattr(sc_type, "broadcast",
                        lambda sc, value: made.append(value) or original(sc, value))
    second = lanes_pipeline(null_docs, CORNER, level=LEVEL).collect()
    # the index already travels as this context's broadcast
    make_locale_resolver(CORNER, LEVEL).broadcast(spark.sparkContext)
    assert made == []
    assert sorted(map(tuple, second)) == sorted(map(tuple, first))


# A fused call, spark.stop(), a new session, the same fused call: the index
# is memoised across the restart, its broadcast is not. Both calls must
# equal the stage run on explicit locale columns (GB drives on the left).
RESTART_SCRIPT = r"""
import json
import numpy as np
from osm2lanes_spark.fixtures.golden import tags_to_spans
from osm2lanes_spark.operators.lane_transform import tags_to_lanes_stage
from osm2lanes_spark.pipeline import lanes_pipeline
from osm2lanes_spark.session import get_spark
from osm2lanes_spark.spatial.joins import make_locale_resolver

POLYGONS = {
    "FR": np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]),
    "GB": np.array([[4.0, 0.0], [8.0, 0.0], [4.0, 3.0]]),
}
TAGS = {"highway": "secondary", "lanes": "3", "lanes:forward": "2"}
POINTS = [("fr", 1.0, 1.0, "FR", "right"), ("gb", 5.0, 0.5, "GB", "left"),
          ("none", 20.0, 20.0, None, None)]
SCHEMA = ("doc_id string, "
          "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
          "lon double, lat double, iso_3166_2 string, driving_side string")


def call():
    spark = get_spark("restart-probe", cpus=2)
    docs = spark.createDataFrame(
        [(d, tags_to_spans(d, TAGS), x, y, iso, side)
         for d, x, y, iso, side in POINTS], SCHEMA)
    fused = lanes_pipeline(docs.drop("iso_3166_2", "driving_side"), POLYGONS,
                           level=8)
    rows = {r["doc_id"]: r for r in fused.collect()}
    want = {r["doc_id"]: r for r in tags_to_lanes_stage(docs).collect()}
    shipped = make_locale_resolver(POLYGONS, 8)._shipped
    live = shipped[0] is spark.sparkContext
    spark.stop()
    return rows, want, live


rows_a, want_a, live_a = call()
rows_b, want_b, live_b = call()
print(json.dumps({"first": rows_a == want_a, "second": rows_b == want_b,
                  "live": [live_a, live_b],
                  "side_matters": want_b["fr"]["lanes"] != want_b["gb"]["lanes"]}))
"""


def test_fused_call_after_context_restart(tmp_path):
    """Run in a subprocess, so the session's ``spark`` fixture stays up."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (repo, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, "-c", RESTART_SCRIPT],
                          capture_output=True, text=True, timeout=600,
                          cwd=str(tmp_path), env=env)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result == {"first": True, "second": True, "live": [True, True],
                      "side_matters": True}
