"""End-to-end: spans + geometry → spatial locale → lanes, golden-checked.

This is the engine-shaped replacement for the reference's `Way {id}` path
(overpass fetch → locale from enclosing areas → transform, §3.2 of
SURVEY.md): locale comes from the containment join instead of a remote
call, and the transform output still matches the golden corpus for every
case that carries an ISO code whose customary driving side matches the
case (i.e. where geography alone determines the locale).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from osm2lanes_spark.core.compare import diff_road, road_eq_expected
from osm2lanes_spark.core.locale import COUNTRIES
from osm2lanes_spark.fixtures import geography as G
from osm2lanes_spark.fixtures.golden import (expected_has_separators,
                                             filter_enabled_lanes, load_cases)
from osm2lanes_spark.operators.lane_transform import arrow_lanes_to_internal
from osm2lanes_spark.pipeline import lanes_pipeline, resolve_locale
from osm2lanes_spark.spatial.raster import rasterize_points, zonal_join

pytestmark = pytest.mark.lane_engine


@pytest.fixture(scope="module")
def geo_cases():
    """Golden cases with an ISO country whose dim driving side matches."""
    out = []
    for c in load_cases():
        iso = c["iso_3166_2"]
        if not iso:
            continue
        a2 = iso.split("-")[0]
        if a2 in COUNTRIES and COUNTRIES[a2][2] == c["driving_side"]:
            out.append(c)
    return out


@pytest.fixture(scope="module")
def geo_docs(spark, geo_cases):
    from osm2lanes_spark.fixtures.golden import tags_to_spans

    rows = []
    for c in geo_cases:
        a2 = c["iso_3166_2"].split("-")[0]
        lon, lat = G.doc_point(c["case_id"], a2)
        inc = c["include_separators"] and expected_has_separators(c)
        rows.append((c["case_id"], tags_to_spans(c["case_id"], c["tags"]),
                     float(lon), float(lat), bool(inc)))
    schema = ("doc_id string, "
              "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
              "lon double, lat double, include_separators boolean")
    return spark.createDataFrame(rows, schema)


def test_resolve_locale(spark, geo_docs, geo_cases):
    polys = G.all_country_polygons()
    out = resolve_locale(geo_docs, polys, level=10)
    got = {r["doc_id"]: (r["iso_3166_2"], r["driving_side"]) for r in out.collect()}
    for c in geo_cases:
        a2 = c["iso_3166_2"].split("-")[0]
        assert got[c["case_id"]] == (a2, c["driving_side"]), c["case_id"]


@pytest.mark.parametrize("fused", [True, False])
def test_pipeline_golden(spark, geo_docs, geo_cases, fused):
    polys = G.all_country_polygons()
    result = lanes_pipeline(geo_docs, polys, level=10, fused=fused)
    rows = {r["doc_id"]: r for r in result.collect()}
    assert len(rows) == len(geo_cases)
    for c in geo_cases:
        row = rows[c["case_id"]]
        assert row["error"] is None, f"{c['case_id']}: {row['error']}"
        actual = filter_enabled_lanes(c, arrow_lanes_to_internal(row["lanes"]))
        expected = filter_enabled_lanes(c, c["expected_lanes"])
        assert road_eq_expected(actual, expected), \
            f"{c['case_id']} {c['description']}\n{diff_road(actual, expected)}"


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()),
                  key=lambda r: r["doc_id"])


@pytest.mark.parametrize("strategy", ["map", "broadcast"])
def test_unfused_replaces_given_locale(geo_docs, geo_cases, strategy):
    """With polygons, both paths take the locale from the point: documents
    that carry a wrong ``iso_3166_2``/``driving_side`` give exactly the
    rows of the fused path on the same documents without them."""
    polys = G.all_country_polygons()
    flipped = {"left": "right", "right": "left"}
    wrong_side = F.create_map(*[F.lit(v) for c in geo_cases for v in
                                (c["case_id"], flipped[c["driving_side"]])])
    wrong = (geo_docs.withColumn("iso_3166_2", F.lit("ZZ"))
             .withColumn("driving_side", wrong_side[F.col("doc_id")]))
    want = _rows(lanes_pipeline(geo_docs, polys, level=10))
    assert _rows(lanes_pipeline(wrong, polys, level=10)) == want
    for docs in (geo_docs, wrong):
        assert _rows(lanes_pipeline(docs, polys, level=10, fused=False,
                                    strategy=strategy)) == want


@pytest.mark.parametrize("with_polygons, strategy, match", [
    (True, "brodcast", "unknown strategy"),
    (True, "broadcast", "needs fused=False"),
    (False, "brodcast", "unknown strategy"),
])
def test_pipeline_rejects_strategy_it_cannot_run(geo_docs, with_polygons,
                                                 strategy, match):
    """The fused stage has only the map lookup, so a typo or ``broadcast``
    with ``fused=True`` raises instead of silently running ``map``."""
    polys = G.all_country_polygons() if with_polygons else None
    with pytest.raises(ValueError, match=match):
        lanes_pipeline(geo_docs, polys, level=10, strategy=strategy)


def test_zonal_join(spark):
    # raster: average of synthetic speed samples; way covers known cells,
    # plus a tile in the world's south-west corner cell, where a NaN vertex
    # would land if it were encoded, and a tile that "crossing" passes
    # between its two vertices
    pts = spark.createDataFrame(
        [(10.0 + 0.001 * i, 20.0, float(50 + (i % 3) * 10)) for i in range(60)]
        + [(-180.0, -90.0, 99.0), (0.5, 0.01, 30.0)],
        "lon double, lat double, speed double")
    raster = rasterize_points(pts, "speed", level=12, agg="avg")
    assert raster.count() >= 2
    nan = float("nan")
    w1 = [{"lon": 10.0, "lat": 20.0}, {"lon": 10.05, "lat": 20.0}]
    ways = spark.createDataFrame(
        [("w1", w1),
         ("w2", [{"lon": -10.0, "lat": -20.0}]),
         ("crossing", [{"lon": 0.0, "lat": 0.01}, {"lon": 1.0, "lat": 0.01}]),
         # no usable geometry: no row, and the job does not fail
         ("nan_vertex", [{"lon": nan, "lat": nan}]),
         ("nan_lat", w1 + [{"lon": -180.0, "lat": nan}]),
         ("inf_vertex", [{"lon": float("-inf"), "lat": -90.0}]),
         ("null_vertex", w1 + [None]),
         ("null_lon", [{"lon": None, "lat": 20.0}]),
         ("null_geometry", None),
         ("empty_geometry", [])],
        "way_id string, geometry array<struct<lon:double,lat:double>>")
    out = zonal_join(ways, raster, level=12, broadcast_raster=True)
    rows = {r["way_id"]: r for r in out.collect()}
    assert set(rows) == {"w1", "crossing"}  # w2: no raster coverage there
    assert 50.0 <= rows["w1"]["zonal_max"] < 99.0
    assert rows["crossing"]["zonal_max"] == 30.0
