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

STRATEGIES = ["map", "broadcast", "salted"]
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


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_containment_join_matches_brute_force(spark, overlap_points, strategy):
    lon, lat = overlap_points
    rows = [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))]
    df = spark.createDataFrame(rows, "doc_id string, lon double, lat double")
    out = containment_join(df, OVERLAP, level=LEVEL, strategy=strategy)
    got = {r["doc_id"]: r["key"] for r in out.collect()}
    want, _ = _brute(lon, lat, OVERLAP)
    assert [got[f"p{i}"] for i in range(len(lon))] == want


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
