"""Spatial engine tests: cell index, PIP, containment join, kNN."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from osm2lanes_spark.fixtures import geography as G
from osm2lanes_spark.spatial import cells as C
from osm2lanes_spark.spatial import polygons as P
from osm2lanes_spark.spatial.joins import containment_join, knn_join, with_cell


# --- pure numpy ------------------------------------------------------------

def test_cell_roundtrip_bounds():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    for level in (4, 10, 16):
        cell = C.encode(lon, lat, level)
        lon0, lat0, lon1, lat1 = C.cell_bounds(cell)
        assert ((lon >= lon0 - 1e-9) & (lon <= lon1 + 1e-9)).all()
        assert ((lat >= lat0 - 1e-9) & (lat <= lat1 + 1e-9)).all()
        assert (C.cell_level(cell) == level).all()


def test_cell_parent_prefix_range():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    fine = C.encode(lon, lat, 14)
    coarse = C.encode(lon, lat, 8)
    assert (C.parent(fine, 8) == coarse).all()
    # every fine cell lies inside its parent's contiguous morton range
    for cell, par in zip(fine[:50].tolist(), coarse[:50].tolist()):
        lo, hi = C.prefix_range(par, 14)
        assert lo <= cell <= hi


def test_k_ring():
    cell = C.encode(np.array([10.0]), np.array([20.0]), 10)[0]
    ring0 = C.ring_cells(int(cell), 0)
    assert list(ring0) == [cell]
    ring1 = C.k_ring(int(cell), 1)
    assert len(ring1) == 9
    assert cell in set(ring1.tolist())
    # all neighbors are adjacent: bounds touch the center cell's bounds
    lon0, lat0, lon1, lat1 = C.cell_bounds(np.array([cell]))
    nlon0, nlat0, nlon1, nlat1 = C.cell_bounds(ring1)
    assert (nlon1 >= lon0[0] - 1e-9).all() and (nlon0 <= lon1[0] + 1e-9).all()


def test_point_in_polygon():
    square = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
    lon = np.array([2.0, 5.0, -1.0, 3.9, 2.0])
    lat = np.array([2.0, 2.0, 2.0, 3.9, 4.5])
    assert P.point_in_polygon(lon, lat, square).tolist() == [True, False, False, True, False]


def test_cover_polygon_contains_all_inside_points():
    ring = G.country_polygon("NL")
    covering = set(P.cover_polygon(ring, 10).tolist())
    for i in range(200):
        x, y = G.doc_point(f"d{i}", "NL")
        cell = int(C.encode(np.array([x]), np.array([y]), 10)[0])
        assert cell in covering


# --- Spark joins -----------------------------------------------------------

@pytest.fixture(scope="module")
def points_df(spark):
    rows = []
    countries = ["NL", "GB", "US", "DE", "JP", "AU", "CA", "CH", "IT", "FR"]
    for i in range(400):
        a2 = countries[i % len(countries)]
        x, y = G.doc_point(f"doc{i}", a2)
        rows.append((f"doc{i}", a2, float(x), float(y)))
    return spark.createDataFrame(rows, "doc_id string, truth string, lon double, lat double")


@pytest.mark.parametrize("strategy", ["map", "broadcast"])
def test_containment_join(spark, points_df, strategy):
    polys = G.all_country_polygons(["NL", "GB", "US", "DE", "JP", "AU", "CA", "CH", "IT", "FR"])
    out = containment_join(points_df, polys, level=10, strategy=strategy)
    bad = out.where(F.col("key") != F.col("truth")).count()
    missing = out.where(F.col("key").isNull()).count()
    assert bad == 0 and missing == 0


def test_containment_join_outside(spark):
    # a point in no polygon resolves to NULL key
    df = spark.createDataFrame([("x", 179.0, -89.0)], "doc_id string, lon double, lat double")
    out = containment_join(df, G.all_country_polygons(["NL"]), level=8)
    assert out.collect()[0]["key"] is None


def test_containment_join_unknown_strategy(spark, points_df):
    """A strategy other than map/broadcast (a typo, say) is an error, not
    a silent fallback to another shape."""
    polys = G.all_country_polygons(["NL"])
    for strategy in ("salted", "Map", "brodcast"):
        with pytest.raises(ValueError, match="unknown strategy"):
            containment_join(points_df, polys, level=8, strategy=strategy)


def test_broadcast_plan(spark, points_df):
    """broadcast strategy: the dim side broadcasts — no fact-side shuffle."""
    polys = G.all_country_polygons(["NL", "GB"])
    out = containment_join(points_df, polys, level=8, strategy="broadcast")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_map_strategy_no_shuffle(spark, points_df):
    """map strategy: a pure narrow map — zero Exchange in the plan."""
    polys = G.all_country_polygons(["NL", "GB"])
    out = containment_join(points_df, polys, level=8, strategy="map")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_knn_join(spark):
    # 3 ways along known offsets; queries nearest to way B
    ways = []
    for wid, (cx, cy) in (("A", (10.0, 10.0)), ("B", (10.1, 10.0)), ("C", (10.3, 10.0))):
        geom = [{"lon": cx + 0.001 * i, "lat": cy} for i in range(3)]
        ways.append((wid, geom))
    ways_df = spark.createDataFrame(
        ways, "way_id string, geometry array<struct<lon:double,lat:double>>")
    queries = spark.createDataFrame(
        [("q1", 10.09, 10.0), ("q2", 10.31, 10.001), ("q3", 9.995, 10.0)],
        "query_id string, lon double, lat double")
    out = knn_join(queries, ways_df, k=1, level=12)
    got = {r["query_id"]: r["way_id"] for r in out.collect()}
    assert got == {"q1": "B", "q2": "C", "q3": "A"}


# every level a cell_expr caller uses: distance_join's bounds (1, 14), the
# locale tests (8), the fused pipeline and streaming (10), the default (12)
ENCODER_LEVELS = (1, 8, 10, 12, 14)
INF, NAN, BIG = float("inf"), float("nan"), float(np.finfo(np.float64).max)


def _encoder_points():
    """Seeded points inside and beyond the world box, every tested level's
    cell boundaries and their float neighbours, the world corners, huge
    finite values and non-finite ones."""
    rng = np.random.default_rng(31)
    lon = list(rng.uniform(-200.0, 200.0, 400))
    lat = list(rng.uniform(-100.0, 100.0, 400))
    for level in ENCODER_LEVELS:
        n = 1 << level
        for k in sorted({0, 1, n // 3, n // 2, n - 1, n}):
            x, y = -180.0 + 360.0 * k / n, -90.0 + 180.0 * k / n
            for step in (-INF, 0.0, INF):
                lon.append(float(np.nextafter(x, step)) if step else x)
                lat.append(float(np.nextafter(y, step)) if step else y)
    edges = [(180.0, 90.0), (-180.0, -90.0), (180.0, -90.0), (-180.0, 90.0),
             (1e300, 0.0), (-1e300, 0.0), (0.0, 1e300), (0.0, -1e300),
             (BIG, -BIG), (-BIG, BIG), (1e19, -1e19), (3e18, 7e17)]
    non_finite = [(INF, 0.0), (-INF, 0.0), (0.0, INF), (0.0, -INF),
                  (NAN, 0.0), (0.0, NAN), (INF, -INF), (NAN, INF)]
    for x, y in edges + non_finite:
        lon.append(x)
        lat.append(y)
    return np.array(lon), np.array(lat)


def test_with_cell_matches_numpy(spark):
    """The JVM encoder gives cells.encode's id on every finite point, and
    a null cell for ±inf and NaN."""
    lon, lat = _encoder_points()
    finite = np.isfinite(lon) & np.isfinite(lat)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "i int, lon double, lat double")
    for level in ENCODER_LEVELS:
        got = dict(with_cell(df, level=level).select("i", "cell").collect())
        want = C.encode(lon, lat, level)
        for i in range(len(lon)):
            assert got[i] == (int(want[i]) if finite[i] else None), \
                (level, lon[i], lat[i])


def test_repartition_by_cell_range(spark):
    """Range partitioning on morton ids co-locates spatial neighbors:
    every partition covers a contiguous, non-overlapping cell range."""
    from osm2lanes_spark.spatial.joins import repartition_by_cell_range

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-180, 180, 4000), rng.uniform(-90, 90, 4000)))],
        "doc_id long, lon double, lat double")
    cells = with_cell(pts, level=10)
    parted = repartition_by_cell_range(cells, 8)
    bounds = (parted
              .groupBy(F.spark_partition_id().alias("pid"))
              .agg(F.min("cell").alias("lo"), F.max("cell").alias("hi"))
              .orderBy("lo").collect())
    assert len(bounds) > 1
    for a, b in zip(bounds, bounds[1:]):
        assert a["hi"] <= b["lo"], "partitions must cover disjoint cell ranges"


# --- segment supercover + kNN exactness for polylines (ADVICE r01 #1) ------

def test_cover_segment_is_superset_of_sampled_cells():
    """Every densely-sampled point along a segment must land in a covered
    cell — the supercover may over-include (conservative) but never miss."""
    rng = np.random.default_rng(99)
    for level in (6, 10):
        for _ in range(40):
            a = rng.uniform([-170, -80], [170, 80])
            b = a + rng.uniform(-30, 30, 2)
            b = np.clip(b, [-180, -90], [180, 90])
            cover = set(C.cover_segment(a[0], a[1], b[0], b[1], level).tolist())
            t = np.linspace(0.0, 1.0, 500)
            px = a[0] + t * (b[0] - a[0])
            py = a[1] + t * (b[1] - a[1])
            sampled = set(C.encode(px, py, level).tolist())
            missing = sampled - cover
            assert not missing, (a, b, level, missing)


def test_cover_polyline_covers_long_vertex_free_segment():
    """A 10°-long segment traverses many cells between its two vertices;
    vertex-only indexing would keep 2 cells, the supercover keeps them all."""
    pts = np.array([[-5.0, 0.01], [5.0, 0.01]])
    level = 12
    cover = set(C.cover_polyline(pts, level).tolist())
    vertex_cells = set(C.encode(pts[:, 0], pts[:, 1], level).tolist())
    assert vertex_cells <= cover
    assert len(cover) > 50  # the in-between cells are present
    mid = C.encode(np.array([0.0]), np.array([0.01]), level)[0]
    assert mid in cover


def test_knn_finds_close_segment_with_far_vertices(spark):
    """A way whose segment passes 0.01° from the query, with both vertices
    5° away, must beat a point-way 0.02° away. Vertex-only indexing + the
    ring-1 guarantee would wrongly return the point-way."""
    queries = spark.createDataFrame([("q0", 0.0, 0.0)],
                                    "query_id string, lon double, lat double")
    ways = spark.createDataFrame(
        [("seg", [(-5.0, 0.01), (5.0, 0.01)]),
         ("pt", [(0.0, 0.02)])],
        "way_id string, geometry array<struct<lon:double,lat:double>>")
    out = knn_join(queries, ways, k=1).collect()
    assert len(out) == 1
    assert out[0]["way_id"] == "seg"
    assert abs(out[0]["dist"] - 0.01) < 1e-9


def test_knn_join_loop_is_driver_safe():
    """The expanding-ring loop must not collect ids to the driver or build
    literal IN-lists (VERDICT r01 #2): splits are semi/anti joins."""
    import inspect

    src = inspect.getsource(knn_join)
    assert ".collect()" not in src
    assert ".isin(" not in src
    assert "left_anti" in src and "left_semi" in src
    assert "localCheckpoint" in src


# --- exact segment-rect covering (ADVICE r01 #2) ----------------------------

def test_cover_polygon_thin_vertex_free_strip():
    """A thin strip (height 0.02°) crossing several level-6 cells off-centre:
    no cell corner/centre is inside and no vertex lies in the middle cells,
    so the old vertex-proxy covering dropped them."""
    strip = np.array([[0.5, 10.0], [19.5, 10.0], [19.5, 10.02], [0.5, 10.02]])
    level = 6
    cover = set(P.cover_polygon(strip, level).tolist())
    xs = np.linspace(0.6, 19.4, 200)
    ys = np.full_like(xs, 10.01)
    inside_cells = set(C.encode(xs, ys, level).tolist())
    assert inside_cells <= cover


def test_classify_cells_concave_notch_not_full():
    """A cell crossed by a vertex-free concave edge must not be 'full'."""
    # square with a thin notch cut across the middle, vertices far outside
    # the level-8 cell under test
    ring = np.array([
        [0.0, 0.0], [40.0, 0.0], [40.0, 20.0],
        [0.0, 20.0], [0.0, 10.02], [39.0, 10.02], [39.0, 10.0], [0.0, 10.0],
    ])
    level = 8
    covering = P.cover_polygon(ring, level)
    full = P.classify_cells(ring, covering)
    # pick cells whose rectangle straddles the notch edges (y=10.0 / 10.02)
    clon0, clat0, clon1, clat1 = C.cell_bounds(covering)
    straddles = (clat0 < 10.0) & (clat1 > 10.02) & (clon1 < 39.0) & (clon0 > 0.0)
    assert straddles.any()
    assert not full[straddles].any()
    # and points just inside the notch must not be classified as contained
    px = np.linspace(1.0, 38.0, 100)
    py = np.full_like(px, 10.01)
    assert not P.point_in_polygon(px, py, ring).any()


def test_ring_cells_expr_matches_numpy_k_ring(spark):
    """The JVM exploded k-ring produces exactly cells.k_ring's set for
    every radius it serves (<=3), including world-edge points where the
    numpy ring clips and the JVM ring clamps (duplicates collapse in the
    downstream pair dedup)."""
    import numpy as np

    from osm2lanes_spark.spatial import cells as C
    from osm2lanes_spark.spatial.joins import explode_ring_cells

    rng = np.random.default_rng(11)
    pts = [(float(lo), float(la)) for lo, la in
           zip(rng.uniform(-180, 180, 40), rng.uniform(-90, 90, 40))]
    pts += [(-180.0, -90.0), (180.0, 90.0), (-179.999, 45.0),
            (0.0, 89.999), (179.999, -89.999)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    for level in (4, 7, 10):
        for r in (1, 2, 3):
            got = {}
            rows = explode_ring_cells(df, "lon", "lat", level, r).collect()
            for row in rows:
                got.setdefault((row["lon"], row["lat"]), set()).add(row["cell"])
            for (lo, la), ring in got.items():
                base = int(C.encode(np.array([lo]), np.array([la]), level)[0])
                assert ring == set(C.k_ring(base, r).tolist()), (level, r, lo, la)


def test_knn_single_vertex_jvm_index_matches_udf_covering(spark):
    """Point-geometry ways index to exactly the cell cover_polyline gives,
    and knn over a MIXED corpus (points + polylines) is still exact vs
    brute force."""
    import numpy as np
    from pyspark.sql import functions as F

    from osm2lanes_spark.spatial.joins import knn_join

    rng = np.random.default_rng(23)
    rows = []
    for i in range(60):
        x, y = rng.uniform(-30, 30), rng.uniform(-20, 20)
        if i % 3 == 0:  # polyline
            rows.append((f"w{i}", [{"lon": x, "lat": y},
                                   {"lon": x + 3.0, "lat": y + 1.0}]))
        else:  # point site
            rows.append((f"w{i}", [{"lon": x, "lat": y}]))
    ways = spark.createDataFrame(
        rows, "way_id string, geometry array<struct<lon:double,lat:double>>")
    qs = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in
         enumerate(zip(rng.uniform(-30, 30, 12), rng.uniform(-20, 20, 12)))],
        "query_id long, lon double, lat double")
    got = {(r["query_id"], r["way_id"])
           for r in knn_join(qs, ways, k=1, level=6, max_ring=8).collect()}

    # brute-force truth (point-to-segment)
    from osm2lanes_spark.spatial.polygons import point_to_segment_dist
    truth = set()
    qrows = qs.collect()
    wrows = ways.collect()
    for q in qrows:
        best, bid = None, None
        for w in wrows:
            ring = np.array([[p["lon"], p["lat"]] for p in w["geometry"]])
            if len(ring) == 1:
                d = float(np.hypot(q["lon"] - ring[0, 0], q["lat"] - ring[0, 1]))
            else:
                d = float(point_to_segment_dist(
                    np.array([q["lon"]]), np.array([q["lat"]]), ring)[0])
            if best is None or (d, w["way_id"]) < (best, bid):
                best, bid = d, w["way_id"]
        truth.add((q["query_id"], bid))
    assert got == truth


# --- geohash / distance join / DBSCAN (round-6 wave 7) ----------------------

def _geohash_ref(lon: float, lat: float, precision: int) -> str:
    """Classic interval-halving geohash (Niemeyer 2008), the textbook
    algorithm — independent of the Morton-spread implementation."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lon_lo, lon_hi, lat_lo, lat_hi = -180.0, 180.0, -90.0, 90.0
    bits, out, even = 0, [], True
    ch = 0
    for _ in range(precision * 5):
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_lo = mid
            else:
                ch <<= 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_lo = mid
            else:
                ch <<= 1
                lat_hi = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(alphabet[ch])
            bits, ch = 0, 0
    return "".join(out)


@pytest.mark.parametrize("precision", [1, 3, 5, 8, 12])
def test_geohash_expr_matches_interval_halving(spark, precision):
    import pandas as pd

    from osm2lanes_spark.spatial.geohash import geohash_expr

    rng = np.random.default_rng(precision)
    pdf = pd.DataFrame({
        "i": range(300),
        "lon": rng.uniform(-180, 180, 300),
        "lat": rng.uniform(-90, 90, 300),
    })
    # pin known anchors too (geohash.org examples)
    pdf.loc[0, ["lon", "lat"]] = (-5.6, 42.6)      # ezs42 at p=5
    pdf.loc[1, ["lon", "lat"]] = (13.361389, 38.115556)  # sqc8b49rh...
    got = {r["i"]: r["gh"] for r in
           spark.createDataFrame(pdf)
           .select("i", geohash_expr("lon", "lat",
                                     precision).alias("gh"))
           .collect()}
    for _, row in pdf.iterrows():
        assert got[row["i"]] == _geohash_ref(row["lon"], row["lat"],
                                             precision), row["i"]


def test_geohash_known_anchor(spark):
    import pandas as pd

    from osm2lanes_spark.spatial.geohash import geohash_expr

    df = spark.createDataFrame(pd.DataFrame(
        {"lon": [-5.6], "lat": [42.6]}))
    [row] = df.select(geohash_expr("lon", "lat", 5)
                      .alias("g")).collect()
    assert row["g"] == "ezs42"


def test_geohash_oracle_cte_matches_spark(spark):
    import duckdb
    import pandas as pd

    from osm2lanes_spark.spatial.geohash import (geohash_expr,
                                                 geohash_oracle_cte)

    rng = np.random.default_rng(99)
    pdf = pd.DataFrame({
        "i": range(200),
        "lon": rng.uniform(-180, 180, 200),
        "lat": rng.uniform(-90, 90, 200),
    })
    spark_out = {r["i"]: r["g"] for r in
                 spark.createDataFrame(pdf)
                 .select("i", geohash_expr("lon", "lat", 6)
                         .alias("g")).collect()}
    con = duckdb.connect()
    con.register("pts", pdf)
    cte = geohash_oracle_cte("pts", "lon", "lat", 6, "i")
    duck = dict(con.execute(
        f"WITH {cte} SELECT i, geohash FROM gh").fetchall())
    assert spark_out == duck


def _brute_pairs(pdf, radius_km):
    from osm2lanes_spark.spatial.joins import EARTH_RADIUS_KM

    lon = np.radians(pdf["lon"].to_numpy())
    lat = np.radians(pdf["lat"].to_numpy())
    dlat = lat[:, None] - lat[None, :]
    dlon = lon[:, None] - lon[None, :]
    a = (np.sin(dlat / 2) ** 2
         + np.cos(lat)[:, None] * np.cos(lat)[None, :]
         * np.sin(dlon / 2) ** 2)
    d = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))
    ids = pdf["id"].to_numpy()
    out = set()
    n = len(pdf)
    for i in range(n):
        for j in range(n):
            if i != j and d[i, j] <= radius_km + 1e-9:
                out.add((ids[i], ids[j]))
    return out


@pytest.mark.parametrize("radius_km", [200.0, 900.0])
def test_distance_join_matches_brute_force(spark, radius_km):
    import pandas as pd

    from osm2lanes_spark.spatial.joins import distance_join

    rng = np.random.default_rng(17)
    pdf = pd.DataFrame({
        "id": range(250),
        "lon": rng.uniform(-180, 180, 250),
        "lat": rng.uniform(-88, 88, 250),
    })
    # clusters straddling the antimeridian and near a pole
    pdf.loc[:10, "lon"] = rng.uniform(179.0, 180.0, 11)
    pdf.loc[11:20, "lon"] = rng.uniform(-180.0, -179.0, 10)
    pdf.loc[:20, "lat"] = rng.uniform(-5, 5, 21)
    pdf.loc[21:30, "lat"] = rng.uniform(83, 86, 10)
    sdf = spark.createDataFrame(pdf)
    left = sdf.select(F.col("id").alias("a"), "lon", "lat")
    right = sdf.select(F.col("id").alias("b"), "lon", "lat")
    got = {(r["a"], r["b"]) for r in
           distance_join(left, right, radius_km)
           .where(F.col("a") != F.col("b")).collect()}
    assert got == _brute_pairs(pdf, radius_km)


def test_distance_join_rejects_bad_radius(spark):
    import pandas as pd

    from osm2lanes_spark.spatial.joins import distance_join

    df = spark.createDataFrame(pd.DataFrame(
        {"id": [1], "lon": [0.0], "lat": [0.0]}))
    with pytest.raises(ValueError):
        distance_join(df, df, 0.0)


def _brute_dbscan(pdf, eps_km, min_pts):
    """Reference DBSCAN with min-label clusters and min-rule borders."""
    nbrs = _brute_pairs(pdf, eps_km)
    ids = list(pdf["id"])
    adj = {i: set() for i in ids}
    for a, b in nbrs:
        adj[a].add(b)
    cores = {i for i in ids if len(adj[i]) + 1 >= min_pts}
    # components over core-core edges
    label = {c: c for c in cores}

    def find(x):
        while label[x] != x:
            label[x] = label[label[x]]
            x = label[x]
        return x

    for a in cores:
        for b in adj[a]:
            if b in cores:
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = min(ra, rb), max(ra, rb)
                    label[hi] = lo
    out = {}
    for c in cores:
        out[c] = (find(c), True)
    for i in ids:
        if i in cores:
            continue
        core_nb = [out[b][0] for b in adj[i] if b in cores]
        if core_nb:
            out[i] = (min(core_nb), False)
    return out


@pytest.mark.parametrize("min_pts", [1, 2, 3, 5])
def test_dbscan_matches_brute_force(spark, min_pts):
    import pandas as pd

    from osm2lanes_spark.spatial.clustering import dbscan

    rng = np.random.default_rng(min_pts * 101 + 1)
    centers = [(-170.0, 2.0), (178.0, -1.0), (10.0, 48.0), (100.0, -30.0)]
    rows = []
    k = 0
    for cx, cy in centers:
        for _ in range(12):
            rows.append((k, cx + rng.normal(0, 2.0), cy + rng.normal(0, 2.0)))
            k += 1
    for _ in range(20):  # sparse noise
        rows.append((k, rng.uniform(-160, 160), rng.uniform(-60, 60)))
        k += 1
    pdf = pd.DataFrame(rows, columns=["id", "lon", "lat"])
    got = {r["id"]: (r["cluster_id"], r["is_core"]) for r in
           dbscan(spark.createDataFrame(pdf), eps_km=500.0,
                  min_pts=min_pts, id_col="id").collect()}
    assert got == _brute_dbscan(pdf, 500.0, min_pts)


@pytest.mark.parametrize("k", [0, 1, 2])
def test_focal_sum_matches_numpy_convolution(spark, k):
    import pandas as pd

    from osm2lanes_spark.spatial.raster import focal_sum

    rng = np.random.default_rng(k + 3)
    w, h = 12, 9
    grid = np.zeros((w, h), np.int64)
    cells = rng.choice(w * h, size=40, replace=False)
    vals = rng.integers(-50, 100, size=40)
    for c, v in zip(cells, vals):
        grid[c // h, c % h] = v
    pdf = pd.DataFrame({"x": cells // h, "y": cells % h, "value": vals})
    out = {(r["x"], r["y"]): (r["focal"], r["n_nbrs"]) for r in
           focal_sum(spark.createDataFrame(pdf), w, h, k=k).collect()}
    # numpy reference: box-kernel sum over populated neighbors
    for (x0, y0), (focal, n) in out.items():
        xs = slice(max(0, x0 - k), min(w, x0 + k + 1))
        ys = slice(max(0, y0 - k), min(h, y0 + k + 1))
        assert focal == grid[xs, ys].sum(), (x0, y0)
        pop = np.zeros((w, h), bool)
        pop[pdf["x"], pdf["y"]] = True
        assert n == int(pop[xs, ys].sum()), (x0, y0)
    # every cell reached by some populated neighbor is present
    assert len(out) >= len(pdf)


def test_raster_peaks_matches_numpy(spark):
    import pandas as pd

    from osm2lanes_spark.spatial.raster import raster_peaks

    rng = np.random.default_rng(8)
    w, h = 15, 11
    cells = rng.choice(w * h, size=60, replace=False)
    vals = rng.integers(1, 1000, size=60)
    pdf = pd.DataFrame({"x": cells // h, "y": cells % h, "value": vals})
    # force a tie pair to pin the strict-inequality suppression
    pdf.loc[0, ["x", "y", "value"]] = (0, 0, 500)
    pdf.loc[1, ["x", "y", "value"]] = (0, 1, 500)
    pdf = pdf.drop_duplicates(["x", "y"])
    got = {(r["x"], r["y"]) for r in
           raster_peaks(spark.createDataFrame(pdf), w, h, k=1).collect()}
    grid = np.full((w, h), np.iinfo(np.int64).min)
    for _, r in pdf.iterrows():
        grid[r["x"], r["y"]] = r["value"]
    exp = set()
    for _, r in pdf.iterrows():
        x0, y0, v = int(r["x"]), int(r["y"]), int(r["value"])
        nb = [grid[i, j]
              for i in range(max(0, x0 - 1), min(w, x0 + 2))
              for j in range(max(0, y0 - 1), min(h, y0 + 2))
              if (i, j) != (x0, y0) and grid[i, j] != np.iinfo(np.int64).min]
        if not nb or v > max(nb):
            exp.add((x0, y0))
    assert got == exp
    assert (0, 0) not in got and (0, 1) not in got  # the tie suppressed


def test_tile_pyramid_levels_consistent(spark, sf_dir):
    import __spark_entry__ as E

    out = E.queries()["tile_pyramid"](spark, sf_dir).toPandas()
    totals = out.groupby("level")[["n_events", "value"]].sum()
    # every level partitions the same base events: totals invariant
    assert totals["n_events"].nunique() == 1
    assert totals["value"].nunique() == 1
    # coarser level → no more cells than the finer one
    sizes = out.groupby("level").size()
    assert sizes.loc[2] <= sizes.loc[4] <= sizes.loc[6] <= sizes.loc[8]
