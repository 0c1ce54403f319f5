"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship documents→lanes pipeline on the
packaged golden fixture; ``queries()`` exposes one entry per implemented
operator family from SURVEY.md §2 (+ the training-data operators);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every query —
ALL of them are hard-oracled (rows+schema+value-hash; the driver counts
the registry, currently 33), including both lane kernels: the forward transform via the eq_exp-masked corpus replay
(``lanes_golden``) and the reverse transform via an independent SQL
re-derivation over the published lane arrays (``lanes_roundtrip``).

Determinism rules used throughout:
- derived geometry comes from integer arithmetic on ids (identical in
  Spark and DuckDB),
- aggregates over doubles that could differ by summation order are either
  order-independent (max/min/count) or rounded,
- rankings always break ties by id.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "osm2lanes_spark", "fixtures", "golden_fixture")

# Derived deterministic geometry (same integer arithmetic in both engines)
_LON = "CAST((doc_id * 7919) % 3600 AS DOUBLE) / 10.0D - 180.0D"
_LAT = "CAST((doc_id * 104729) % 1700 AS DOUBLE) / 10.0D - 85.0D"
_LON_SQL = "CAST((doc_id * 7919) % 3600 AS DOUBLE) / 10.0 - 180.0"
_LAT_SQL = "CAST((doc_id * 104729) % 1700 AS DOUBLE) / 10.0 - 85.0"
_GX = "(((doc_id * 7919) % 3600) * 256) div 3600"
_GY = "(((doc_id * 104729) % 1700) * 256) div 1700"
_GX_SQL = "(((doc_id * 7919) % 3600) * 256) // 3600"
_GY_SQL = "(((doc_id * 104729) % 1700) * 256) // 1700"
_ELON = "((event_id * 6151) % 3600) / 10.0 - 180.0"
_ELAT = "((event_id * 9173) % 1700) / 10.0 - 85.0"
_EGX = "(((event_id * 6151) % 3600) * 256) div 3600"
_EGY = "(((event_id * 9173) % 1700) * 256) div 1700"
_EGX_SQL = "(((event_id * 6151) % 3600) * 256) // 3600"
_EGY_SQL = "(((event_id * 9173) % 1700) * 256) // 1700"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_SHIPPED: set[int] = set()


def _ensure_workers(spark: SparkSession) -> None:
    """Ship osm2lanes_spark to python workers regardless of driver CWD.

    Arrow-stage closures reference package modules by name; workers must
    be able to import them even when the hosting process didn't set
    PYTHONPATH. addPyFile on a zip of the package makes that so.
    """
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "osm2lanes_spark")
    fd, zpath = tempfile.mkstemp(suffix="_osm2lanes_spark.zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(key)


# ---------------------------------------------------------------------------
# entry — flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Golden-fixture documents → span assembly → tags_to_lanes stage."""
    from osm2lanes_spark.operators.lane_transform import tags_to_lanes_stage

    _ensure_workers(spark)
    docs = spark.read.parquet(os.path.join(FIXTURE_DIR, "documents.parquet"))
    roads = tags_to_lanes_stage(docs)
    return roads.select(
        "doc_id", "highway", "lifecycle",
        F.size("lanes").alias("n_lanes"),
        F.to_json(F.col("lanes")).alias("lanes_json"),
        F.size("warnings").alias("n_warnings"), "error")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan + filter + partial/final agg (SURVEY §2.5)."""
    li = _read(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order")))


def _q_region_revenue(spark, sf_dir):
    """Multi-way broadcast join + agg (SURVEY §2.4 J1/J2 dim lookups)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = F.broadcast(_read(spark, sf_dir, "nation"))
    region = F.broadcast(_read(spark, sf_dir, "region"))
    # SHUFFLE_HASH on the fact-fact join: the planner otherwise
    # broadcasts the million-row orders side (serial relation build +
    # serial single-row-group probe; r07 A/B at sf1.0: 6.0 -> 2.1 s
    # warm). The true dims below stay broadcast.
    orders = orders.hint("SHUFFLE_HASH")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(nation, cust.c_nationkey == nation.n_nationkey)
            .join(region, nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


def _q_event_ranks(spark, sf_dir):
    """Window functions: per-user event ranking (SURVEY §2.8 analogue)."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("user_id", "event_id", "rn"))


def _q_events_props(spark, sf_dir):
    """Semi-structured extraction (Tags-from-JSON scan S3 analogue)."""
    ev = _read(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r"(\d+)", 1).cast("bigint")
    return (ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.max("value").alias("max_value")))


def _q_grid_binning(spark, sf_dir):
    """Tiling: derived points → grid cells → per-cell counts (§2.4 J3 coarse step)."""
    docs = _read(spark, sf_dir, "documents")
    return (docs
            .withColumn("cell", F.expr(f"({_GY}) * 256 + ({_GX})"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_doc")))


def _q_s2_binning(spark, sf_dir):
    """Tiling on REAL S2 cell ids (north rule: "H3 cells (with S2
    fallback) in batched Arrow kernels"): derived points → S2 level-12
    cells via the vectorized `spatial/s2.py` kernel (cube face +
    quadratic ST + Hilbert lookup tables, canonical bit layout) →
    per-cell counts. The oracle replays the full algorithm — faces,
    projection, all eight Hilbert table steps, parent arithmetic — in
    DuckDB SQL, so the S2 implementation itself is hash-verified."""
    from osm2lanes_spark.spatial.s2 import s2_encode_udf

    docs = _read(spark, sf_dir, "documents")
    cell = s2_encode_udf(12)(F.expr(_LON), F.expr(_LAT))
    return (docs.withColumn("cell", cell)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_doc")))


def _q_knn(spark, sf_dir):
    """kNN via expanding k-ring (J4) — exact vs brute-force oracle."""
    from osm2lanes_spark.spatial.joins import knn_join

    docs = _read(spark, sf_dir, "documents")
    pts = docs.select("doc_id",
                      F.expr(_LON).alias("lon"), F.expr(_LAT).alias("lat"))
    queries = (pts.where(F.col("doc_id") < 30)
               .select(F.col("doc_id").alias("query_id"), "lon", "lat"))
    sites = pts.select(
        F.col("doc_id").alias("site_id"),
        F.array(F.struct(F.col("lon"), F.col("lat"))).alias("geometry"))
    # k=2 because each query point coincides with its own site (dist 0);
    # the self-site is dropped after the join
    out = knn_join(queries, sites, k=2, level=4, max_ring=8,
                   way_id="site_id")
    out = out.where(F.col("query_id") != F.col("site_id"))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(),
                                               F.col("site_id").asc())
    out = (out.withColumn("rn", F.row_number().over(w)).where("rn = 1"))
    return out.select("query_id", F.col("site_id").alias("neighbor_id"))


def _q_knn3(spark, sf_dir):
    """kNN at k>1 under the hard oracle (VERDICT r03 #7): 3 nearest
    sites per query, rank included, deterministic (dist, site_id)
    tie-break — exercises the expanding ring's k-th-distance stopping
    guarantee and boundary tie handling, which the k=1 query can't."""
    from osm2lanes_spark.spatial.joins import knn_join

    docs = _read(spark, sf_dir, "documents")
    pts = docs.select("doc_id",
                      F.expr(_LON).alias("lon"), F.expr(_LAT).alias("lat"))
    queries = (pts.where(F.col("doc_id") < 30)
               .select(F.col("doc_id").alias("query_id"), "lon", "lat"))
    sites = pts.select(
        F.col("doc_id").alias("site_id"),
        F.array(F.struct(F.col("lon"), F.col("lat"))).alias("geometry"))
    # k=5: self (dist 0) + 3 wanted + 1 slack so a tie at the cutoff
    # can't exclude the oracle's pick; ranked after the self-drop
    out = knn_join(queries, sites, k=5, level=4, max_ring=8,
                   way_id="site_id")
    out = out.where(F.col("query_id") != F.col("site_id"))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(),
                                               F.col("site_id").asc())
    out = (out.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= 3))
    return out.select("query_id", F.col("site_id").alias("neighbor_id"),
                      "rank")


def _q_geohash_binning(spark, sf_dir):
    """Tiling on geohash cells (third cell backend next to the morton
    grid and S2): document points → precision-3 geohash via pure-Catalyst
    bit arithmetic (spatial/geohash.py) → per-cell counts. The oracle
    replays the quantize + Morton-spread + base32 chain bit-for-bit in
    DuckDB, hash-verifying the encoder itself (the S2 strategy)."""
    from osm2lanes_spark.spatial.geohash import geohash_expr

    docs = _read(spark, sf_dir, "documents")
    return (docs
            .withColumn("geohash", geohash_expr(_LON, _LAT, 3))
            .groupBy("geohash")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_doc")))


def _q_distance_pairs(spark, sf_dir):
    """Within-radius spatial self-join (spatial/joins.py distance_join):
    all document-point pairs within 800 km great-circle distance — the
    set-at-once form of the reference's one-at-a-time Overpass `around`
    lookup (overpass.rs:193-242). Grid-cell ring explode (per-row lon
    width, antimeridian wrap) + ONE equi-join + exact haversine filter;
    the oracle brute-forces the same fixed-op-order haversine over the
    a<b cross product."""
    from osm2lanes_spark.spatial.joins import distance_join

    docs = _read(spark, sf_dir, "documents")
    pts = docs.select("doc_id",
                      F.expr(_LON).alias("lon"), F.expr(_LAT).alias("lat"))
    left = pts.select(F.col("doc_id").alias("a_id"), "lon", "lat")
    right = pts.select(F.col("doc_id").alias("b_id"), "lon", "lat")
    return (distance_join(left, right, 800.0)
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id",
                    F.round(F.col("dist_km"), 3).alias("dist_km")))


def _q_dbscan_clusters(spark, sf_dir):
    """Distributed DBSCAN (spatial/clustering.py) over document points:
    ε = 800 km, min_pts = 3 (self-inclusive). ε-graph from the grid
    distance join, cores by one degree aggregate, core reachability via
    pointer-jumping components, border points to their minimum-labelled
    core neighbor (the deterministic flavor of classic DBSCAN's
    order-dependent border rule). Oracle: brute-force ε-graph + a
    recursive-CTE reachability closure in DuckDB."""
    from osm2lanes_spark.spatial.clustering import dbscan

    docs = _read(spark, sf_dir, "documents")
    pts = docs.select("doc_id",
                      F.expr(_LON).alias("lon"), F.expr(_LAT).alias("lat"))
    return dbscan(pts, eps_km=800.0, min_pts=3, id_col="doc_id")


def _q_cluster_stats(spark, sf_dir):
    """DBSCAN→zonal composition (spatial/clustering.py cluster_stats):
    per-cluster member/core counts, bounding box and quantized-sum
    centroid — the per-metro profiling stats a curation pipeline keys
    area decisions on. Oracle: the dbscan recursive-CTE replay joined
    back to the points and aggregated with identical integer sums."""
    from osm2lanes_spark.spatial.clustering import cluster_stats, dbscan

    docs = _read(spark, sf_dir, "documents")
    pts = docs.select("doc_id",
                      F.expr(_LON).alias("lon"), F.expr(_LAT).alias("lat"))
    labels = dbscan(pts, eps_km=800.0, min_pts=3, id_col="doc_id")
    return cluster_stats(pts, labels, id_col="doc_id")


def _q_idw_events(spark, sf_dir):
    """IDW spatial interpolation (spatial/interpolate.py): event values
    as scattered field samples, interpolated onto document points within
    300 km (power-2 inverse-distance weights, quantized integer sums so
    the mean is partitioning- and engine-order exact). Oracle:
    brute-force radius predicate with the same fixed-op-order haversine
    and the same integer quantization."""
    from osm2lanes_spark.spatial.interpolate import idw_interpolate

    docs = _read(spark, sf_dir, "documents")
    ev = _read(spark, sf_dir, "events")
    pts = docs.select("doc_id",
                      F.expr(_LON).alias("lon"), F.expr(_LAT).alias("lat"))
    smp = ev.select(F.expr(_ELON).alias("lon"),
                    F.expr(_ELAT).alias("lat"), "value")
    return idw_interpolate(pts, smp, 300.0, id_col="doc_id")


def _q_trajectories(spark, sf_dir):
    """Per-user trajectory roll-up (spatial/trajectory.py): events as a
    GPS trace ordered by (ts, event_id) — path length (quantized step
    sum), net first→last displacement, straightness. One entity-keyed
    shuffle for window + aggregate. Oracle: SQL window replay with the
    identical haversine and quantization."""
    from osm2lanes_spark.spatial.trajectory import trajectory_summary

    ev = _read(spark, sf_dir, "events")
    traces = ev.select(F.col("user_id"), F.col("ts"), F.col("event_id"),
                       F.expr(_ELON).alias("lon"),
                       F.expr(_ELAT).alias("lat"))
    return trajectory_summary(traces, entity="user_id", tiebreak="event_id")


def _q_zonal(spark, sf_dir):
    """Raster→vector zonal join (north rule): events rasterized per cell,
    max-aggregated onto document points."""
    ev = _read(spark, sf_dir, "events")
    raster = (ev.withColumn("cell", F.expr(f"({_EGY}) * 256 + ({_EGX})"))
              .groupBy("cell").agg(F.max("value").alias("rval")))
    docs = _read(spark, sf_dir, "documents")
    pts = docs.withColumn("cell", F.expr(f"({_GY}) * 256 + ({_GX})"))
    return (pts.join(raster, "cell")
            .groupBy("doc_id")
            .agg(F.max("rval").alias("zonal_max")))


def _q_raster_focal(spark, sf_dir):
    """Focal raster convolution (spatial/raster.py focal_sum): events
    rasterized to a 256² integer grid (values quantized to 1e-6), then a
    3×3 box-kernel focal sum via scatter-explode + ONE map-side-combined
    regroup — the smoothed-density-surface step between rasterize and
    threshold. Oracle: offsets cross join with the same edge clipping."""
    from osm2lanes_spark.spatial.raster import focal_sum

    ev = _read(spark, sf_dir, "events")
    raster = (ev.select(F.expr(_EGX).alias("x"), F.expr(_EGY).alias("y"),
                        F.round(F.col("value") * F.lit(1e6))
                        .cast("long").alias("vq"))
              .groupBy("x", "y").agg(F.sum("vq").alias("value")))
    return focal_sum(raster, 256, 256, k=1)


def _q_raster_peaks(spark, sf_dir):
    """Non-maximum suppression (spatial/raster.py raster_peaks): local
    maxima of the 256² integer event raster — cells strictly above every
    populated 3×3 neighbor; the hotspot-extraction step after focal
    smoothing. Oracle: neighbor-offsets cross join with the same strict
    compare."""
    from osm2lanes_spark.spatial.raster import raster_peaks

    ev = _read(spark, sf_dir, "events")
    raster = (ev.select(F.expr(_EGX).alias("x"), F.expr(_EGY).alias("y"),
                        F.round(F.col("value") * F.lit(1e6))
                        .cast("long").alias("vq"))
              .groupBy("x", "y").agg(F.sum("vq").alias("value")))
    return raster_peaks(raster, 256, 256, k=1)


def _q_tile_pyramid(spark, sf_dir):
    """Tile-pyramid rollup: event counts and quantized value sums per
    grid cell at levels 8/6/4/2 of the 256² raster in ONE pass — each
    base cell explodes to its (level, parent) tuples (integer division
    by the level's cell span) and a single map-side-combined groupBy
    aggregates the whole pyramid; the hypertable-rollup shape (a
    hierarchy shuffle, not one job per zoom level). Oracle: the same
    division replayed per level via a VALUES cross join."""
    ev = _read(spark, sf_dir, "events")
    base = ev.select(F.expr(_EGX).alias("x"), F.expr(_EGY).alias("y"),
                     F.round(F.col("value") * F.lit(1e6))
                     .cast("long").alias("vq"))
    lv = F.array(*[F.struct(F.lit(l).alias("level"),
                            F.lit(1 << (8 - l)).alias("span"))
                   for l in (2, 4, 6, 8)])
    return (base
            .select(F.explode(lv).alias("__l"), "x", "y", "vq")
            .groupBy(F.col("__l")["level"].alias("level"),
                     (F.col("x") / F.col("__l")["span"]).cast("long")
                     .alias("px"),
                     (F.col("y") / F.col("__l")["span"]).cast("long")
                     .alias("py"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("vq").alias("value")))


def _q_dedup_exact(spark, sf_dir):
    """Exact dedup groups (normalized-md5 fingerprint)."""
    from osm2lanes_spark.operators.text import normalized

    docs = _read(spark, sf_dir, "documents")
    return (docs.select("doc_id", F.md5(normalized(F.col("text"))).alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("survivor_id")))


def _q_token_stats(spark, sf_dir):
    from osm2lanes_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))


def _q_text_quality(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = F.size(F.split(F.regexp_replace(text, r"^\s+|\s+$", ""), r"\s+"))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\w\s]"), F.lit(0)))
    n_upper = F.size(F.regexp_extract_all(text, F.lit(r"[A-Z]"), F.lit(0)))
    return docs.select(
        "doc_id", n_chars.alias("n_chars"), n_tokens.alias("n_tokens"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        F.round(n_upper / n_chars, 6).alias("upper_ratio"),
        F.round(n_chars / n_tokens, 6).alias("mean_token_len"))


def _q_gopher_rules(spark, sf_dir):
    """Gopher rule-based quality filter (operators/text.py
    with_gopher_rules, Rae et al. 2021 A1.1): word-count band, mean word
    length band, symbol-to-word ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction, and a >=2-distinct-function-words gate —
    one narrow zero-shuffle map stage. The corpus is single-line, so
    _GOPHER_PLANTS adds five docs each violating exactly one line/symbol
    /alpha rule (or none) to exercise both sides of every boundary; the
    DuckDB oracle replays rules on the unrounded divisions."""
    from osm2lanes_spark.operators.text import with_gopher_rules

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    plants = spark.createDataFrame(_GOPHER_PLANTS,
                                   "doc_id long, text string")
    out = with_gopher_rules(docs.unionByName(plants))
    return out.select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
                      "bullet_frac", "ellipsis_frac", "alpha_frac",
                      "stop_hits", "gopher_keep")


def _q_top_suppliers(spark, sf_dir):
    """Sort + limit (top-k) with deterministic tie-break (SURVEY §2.10)."""
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    return (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .groupBy("s_suppkey", "s_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("s_suppkey").asc())
            .limit(10))


def _q_customer_set_ops(spark, sf_dir):
    """Set operators: customers with orders but no high-value order."""
    orders = _read(spark, sf_dir, "orders")
    with_orders = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    big = (orders.where(F.col("o_totalprice") > 200000)
           .select(F.col("o_custkey").alias("custkey")).distinct())
    return with_orders.exceptAll(big).distinct()


def _q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 (ids + rank; oracle replays in DuckDB)."""
    from osm2lanes_spark.operators.similarity import cosine_topk

    emb = (_read(spark, sf_dir, "embeddings")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    queries = (emb.where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = cosine_topk(queries, emb, k=5)
    return out.select("query_id", "vec_id", "rank")


# --- rows-only (non-SQL-expressible) ---------------------------------------

def _golden_expected_meta():
    """Fixture metadata for the eq_exp comparator, driver-side (46 rows).

    Returns (inc_by_case, mask_rows): per-case include_separators
    resolution (test.rs:308-315 is_lane_enabled) and per expected lane the
    PRESENCE masks of the optional fields — eq_exp treats an absent
    expected field as a wildcard (test.rs:137-145), so the hash-compared
    query must null the actual value wherever the expected corpus omits
    it. Only presence flows from here; every compared VALUE on the Spark
    side comes from the kernel.
    """
    import json as _json

    import pyarrow.parquet as _pq

    tbl = _pq.read_table(os.path.join(FIXTURE_DIR, "golden.parquet"))
    inc_by_case, mask_rows = {}, []
    for case_id, ej, inc_flag in zip(tbl["case_id"].to_pylist(),
                                     tbl["expected_json"].to_pylist(),
                                     tbl["include_separators"].to_pylist()):
        lanes = _json.loads(ej)
        keep_seps = inc_flag and any(
            l.get("type") == "separator" for l in lanes)
        inc_by_case[case_id] = keep_seps
        kept = [l for l in lanes
                if l.get("type") != "separator" or keep_seps]
        for idx, l in enumerate(kept):
            marks = l.get("markings")
            mask_rows.append({
                "case_id": case_id, "lane_idx": idx,
                "exp_has_width": "width" in l,
                "exp_has_speed": "max_speed" in l,
                "exp_has_access": "access" in l,
                "exp_has_semantic": "semantic" in l,
                "exp_has_markings": marks is not None,
                "exp_n_markings": len(marks or []),
                "color_mask": [("color" in m) for m in (marks or [])],
                "width_mask": [("width" in m) for m in (marks or [])],
            })
    return inc_by_case, mask_rows


def _q_lanes_golden(spark, sf_dir):
    """Kernel parity THROUGH the driver's hash gate: the transform output
    exploded to one scalar row per lane, masked to the reference's own
    eq_exp comparator semantics (test.rs:133-265: expected-absent optional
    fields are wildcards; markings zip-compare with expected length;
    separators dropped unless the case both includes and expects them),
    then hash-compared against the expected corpus (tests.yml →
    golden.parquet) replayed mechanically in DuckDB json functions. Every
    compared value comes from the kernel; the fixture contributes only
    field-presence masks — exactly what the reference's test runner does.
    """
    from osm2lanes_spark.operators.lane_transform import tags_to_lanes_stage

    _ensure_workers(spark)
    inc_by_case, mask_rows = _golden_expected_meta()
    docs = spark.read.parquet(os.path.join(FIXTURE_DIR, "documents.parquet"))
    inc = spark.createDataFrame(
        [(c, bool(v)) for c, v in sorted(inc_by_case.items())],
        "doc_id string, include_separators boolean")
    masks = spark.createDataFrame(
        mask_rows,
        "case_id string, lane_idx int, exp_has_width boolean, "
        "exp_has_speed boolean, exp_has_access boolean, "
        "exp_has_semantic boolean, exp_has_markings boolean, "
        "exp_n_markings int, color_mask array<boolean>, "
        "width_mask array<boolean>")

    roads = tags_to_lanes_stage(docs.join(F.broadcast(inc), "doc_id"))
    lane = F.col("lane")
    exploded = (roads
                .select("doc_id",
                        (F.size("warnings") > 0).alias("has_warnings"),
                        F.posexplode("lanes").alias("lane_idx", "lane"))
                .withColumnRenamed("doc_id", "case_id")
                .join(F.broadcast(masks), ["case_id", "lane_idx"], "left"))

    typ = lane["type"]
    dir_des = typ.isin("travel", "parking")
    # markings: zip against the EXPECTED length (shorter expected matches a
    # longer actual, test.rs Vec eq_exp); per-marking color/width are
    # themselves presence-masked
    mark_elem = F.transform(
        F.sequence(F.lit(0),
                   F.col("exp_n_markings") - 1),
        lambda i: F.concat(
            F.coalesce(F.element_at(lane["markings"], i + 1)["style"],
                       F.lit("")),
            F.lit(":"),
            F.coalesce(F.when(F.element_at("color_mask", i + 1),
                              F.element_at(lane["markings"], i + 1)["color"]),
                       F.lit("")),
            F.lit(":"),
            F.coalesce(F.when(F.element_at("width_mask", i + 1),
                              F.round(F.element_at(lane["markings"], i + 1)["width"]
                                      * 1000).cast("long").cast("string")),
                       F.lit(""))))
    markings_sig = F.when(
        (typ == "separator") & F.col("exp_has_markings"),
        F.when(lane["markings"].isNull(), F.lit("absent"))
        .otherwise(F.concat_ws("|", mark_elem)))

    def _mode(m):
        a = lane["access"][m]
        return F.concat(F.coalesce(a["access"], F.lit("")), F.lit("/"),
                        F.coalesce(a["direction"], F.lit("")))

    access_sig = F.when(
        (typ == "travel") & F.col("exp_has_access"),
        F.when(lane["access"].isNull(), F.lit("absent"))
        .otherwise(F.concat_ws("|", *[_mode(m) for m in
                                      ("foot", "bicycle", "taxi", "bus",
                                       "motor")])))

    return exploded.select(
        "case_id", "lane_idx",
        typ.alias("lane_type"),
        F.when(dir_des, lane["direction"]).alias("direction"),
        F.when(dir_des, lane["designated"]).alias("designated"),
        F.when(typ.isin("travel", "parking", "shoulder")
               & F.col("exp_has_width"), lane["width"]).alias("width"),
        F.when((typ == "travel") & F.col("exp_has_speed"),
               lane["max_speed"]["unit"]).alias("speed_unit"),
        F.when((typ == "travel") & F.col("exp_has_speed"),
               lane["max_speed"]["value"]).alias("speed_value"),
        F.when((typ == "separator") & F.col("exp_has_semantic"),
               lane["semantic"]).alias("semantic"),
        markings_sig.alias("markings_sig"),
        access_sig.alias("access_sig"),
        "has_warnings")


def _q_lanes_roundtrip(spark, sf_dir):
    """The reverse transform (SURVEY L1-L10) under the hard oracle: the
    REAL ``lanes_to_tags`` kernel runs over the published expected lane
    arrays (golden.parquet) in one Arrow stage and emits the produced tag
    map as (case_id, tag_key, tag_value) rows; the DuckDB oracle
    re-derives the same tag map INDEPENDENTLY in SQL (lane-array
    aggregations: counts, oneway consensus, shoulder/sidewalk/parking edge
    detection, cycleway/busway emission incl. positional lists, speed
    consensus + Rust Display formatting, NL locale addition) — reference
    semantics ``lanes_to_tags/mod.rs:139-526``. A kernel error surfaces as
    a single ``__error__`` row per case, which the oracle predicts too.
    The forward∘reverse identity itself stays pinned in pytest
    (test_golden_kernel.py::test_roundtrip, all 46 + 15 disabled)."""
    _ensure_workers(spark)
    golden = spark.read.parquet(os.path.join(FIXTURE_DIR, "golden.parquet"))
    docs = (spark.read.parquet(os.path.join(FIXTURE_DIR, "documents.parquet"))
            .select(F.col("doc_id").alias("case_id"),
                    "iso_3166_2", "driving_side"))
    src = golden.join(F.broadcast(docs), "case_id").select(
        "case_id", "expected_json", "expected_highway",
        "iso_3166_2", "driving_side")

    def run(batches):
        import json as _json

        import pandas as _pd

        from osm2lanes_spark.core.lanes_to_tags import lanes_to_tags
        from osm2lanes_spark.core.locale import Locale

        for pdf in batches:
            rows = []
            for cid, ej, hw, iso, side in zip(
                    pdf["case_id"], pdf["expected_json"],
                    pdf["expected_highway"], pdf["iso_3166_2"],
                    pdf["driving_side"]):
                lanes = _json.loads(ej)
                for l in lanes:
                    if l.get("max_speed") is not None:
                        l["max_speed"] = tuple(l["max_speed"])
                try:
                    tags = lanes_to_tags(
                        {"highway": hw, "lifecycle": "active", "lanes": lanes},
                        Locale.build(iso, side), check_roundtrip=False)
                    rows += [(cid, k, v) for k, v in tags.items()]
                except Exception as e:
                    rows.append((cid, "__error__", type(e).__name__))
            yield _pd.DataFrame(
                rows, columns=["case_id", "tag_key", "tag_value"])

    return src.mapInPandas(
        run, "case_id string, tag_key string, tag_value string")


def _q_minhash_pairs(spark, sf_dir):
    from osm2lanes_spark.operators.dedup import minhash_candidate_pairs

    docs = _read(spark, sf_dir, "documents")
    return minhash_candidate_pairs(docs, "doc_id", "text", threshold=0.5)


def _q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, fully oracle-checkable: md5-derived token
    hashes (byte-identical in DuckDB) and 8 bands of 8 bits, which by
    pigeonhole guarantee EXACT recall at max_hamming <= 7 — so the banded
    output equals the oracle's brute-force hamming join. The operator's
    100 TB default keeps xxhash64 (cheaper; same plan shape)."""
    from osm2lanes_spark.operators.dedup import simhash_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=6, bands=8,
                         hash_fn="md5")


def _q_embedding_neardup(spark, sf_dir):
    """Hyperplane-LSH near-dup detection with planted duplicates.

    The natural corpus peaks at cosine ≈0.51, so near-dups are planted:
    vectors 0..49 reappear (id+100000) with a small additive perturbation
    (cosine ≈0.9999 ≫ threshold, natural pairs ≪ threshold — no boundary
    cases, so the LSH output equals the DuckDB brute-force oracle).
    """
    from osm2lanes_spark.operators.dedup import embedding_near_dup

    emb = (_read(spark, sf_dir, "embeddings")
           .withColumn("embedding", F.col("embedding").cast("array<double>"))
           .select("vec_id", "embedding"))
    planted = (emb.where(F.col("vec_id") < 50)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       F.transform(F.col("embedding"),
                                   lambda x: x + F.lit(0.01)).alias("embedding")))
    both = emb.unionByName(planted)
    out = embedding_near_dup(both, dim=64, planes=32, bands=4, threshold=0.95)
    return out.select("left_id", "right_id")


def _q_semdedup(spark, sf_dir):
    """SemDeDup cluster-then-prune semantic dedup (operators/dedup.py
    semantic_dedup, Abbas et al. 2023): assign every embedding to its
    nearest of 8 deterministic centroids (the first-8 vectors by id —
    SQL-replayable; the TRAINED path takes kmeans_fit output), then mark
    as duplicates any row whose cluster holds a smaller-id row at cosine
    >= 0.95. Near-dups are planted exactly as in embedding_neardup
    (vectors 0..49 reappear at id+100000, +0.01 per dim, cosine ~0.9999
    >> threshold; natural pairs peak ~0.51 << threshold — no boundary
    cases). Assignment quantizes to 9 decimals + centroid-id tie-break;
    the pair threshold quantizes to 6 — both replayed bit-for-bit by the
    DuckDB oracle via the identical dot/(norm*norm) arithmetic shape."""
    from osm2lanes_spark.operators.dedup import semantic_dedup

    emb = (_read(spark, sf_dir, "embeddings")
           .withColumn("embedding", F.col("embedding").cast("array<double>"))
           .select("vec_id", "embedding"))
    planted = (emb.where(F.col("vec_id") < 50)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       F.transform(F.col("embedding"),
                                   lambda x: x + F.lit(0.01))
                       .alias("embedding")))
    both = emb.unionByName(planted)
    cent = (emb.where(F.col("vec_id") < 8)
            .select(F.col("vec_id").cast("int").alias("centroid_id"),
                    F.col("embedding").alias("centroid")))
    return semantic_dedup(both, cent, threshold=0.95)


def _q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard pairs (brute force — the verification baseline
    of the MinHash path, oracled against DuckDB list ops)."""
    from osm2lanes_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)


def _q_jaccard_prefix(spark, sf_dir):
    """PPJoin-style prefix-filtered Jaccard self-join (operators/
    dedup.py jaccard_prefix_pairs): the SCALE path for the all-pairs
    ngram_jaccard baseline — same result set (the prefix principle is
    lossless for J >= t), but every exchange keys on tokens or doc
    ids; candidates come from a rare-token prefix equi-join with a
    length-ratio prune, never a cross product."""
    from osm2lanes_spark.operators.dedup import jaccard_prefix_pairs

    docs = _read(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(docs, "doc_id", "text", threshold=0.5)




def _q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (part dim + conditional aggregation): share of
    revenue from promo parts per brand, September 1995."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.where((F.col("l_shipdate") >= "1995-09-01")
                     & (F.col("l_shipdate") < "1995-10-01"))
            .join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(F.round(F.sum(F.when(F.col("p_type").startswith("PROMO"),
                                      rev).otherwise(0.0)), 2)
                 .alias("promo_rev"),
                 F.round(F.sum(rev), 2).alias("total_rev"),
                 F.count(F.lit(1)).alias("n_items")))


def _q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/sampling.py):
    pure function of the doc id via md5 — reproducible across engines
    (the oracle replays the same arithmetic), re-runs and backfills land
    identically. Aggregated per (source, split)."""
    from osm2lanes_spark.operators.sampling import hash_split

    docs = _read(spark, sf_dir, "documents")
    return (hash_split(docs, "doc_id")
            .groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars")))


def _q_mixture(spark, sf_dir):
    """Per-source mixture sampling (operators/sampling.py): src0 is
    upweighted 2.25x (every doc twice, 25% thrice), src1 halved, src2
    dropped, src3 1.75x, the rest kept at 1.0 — the curation->mixture
    step of a training pipeline, as a pure function of (doc_id, seed) so
    any engine reproduces the exact multiset. Aggregated per source."""
    from osm2lanes_spark.operators.sampling import mixture_sample

    docs = _read(spark, sf_dir, "documents")
    mixed = mixture_sample(
        docs, {"src0": 2.25, "src1": 0.5, "src2": 0.0, "src3": 1.75},
        id_col="doc_id", seed=7, default_rate=1.0)
    return (mixed.groupBy("source")
            .agg(F.count(F.lit(1)).alias("rows_out"),
                 F.countDistinct("doc_id").alias("docs_kept"),
                 F.sum("mix_copy").alias("copy_sum"))
            .orderBy("source"))


def _q_stratified(spark, sf_dir):
    """Deterministic stratified sampling (operators/sampling.py): exactly
    7 docs per source, ranked by the seeded md5-uniform of the doc id —
    the eval-subset carve of a training pipeline, reproducible by any
    engine. The scale path prefilters to ~n survivors per stratum before
    the window; the oracle replays the selection with one QUALIFY."""
    from osm2lanes_spark.operators.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    samp = stratified_sample(docs, 7, strata_col="source",
                             id_col="doc_id", seed=3)
    return (samp.select("source", "doc_id", "n_chars")
            .orderBy("source", "doc_id"))


def _q_doc_packing(spark, sf_dir):
    """Context-window packing (operators/packing.py): documents packed
    into 2048-token budgets per source by cumulative offset (two window
    functions, one shuffle). Aggregated per pack."""
    from osm2lanes_spark.operators.packing import contiguous_packs
    from osm2lanes_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens(F.col("text"))))
    packed = contiguous_packs(docs, "n_tokens", budget=2048,
                              order_col="doc_id", part_col="source")
    return (packed.groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("pack_tokens")))


def _q_doc_packing_exact(spark, sf_dir):
    """Strict greedy packing (operators/packing.py exact=True): no pack
    exceeds the 2048-token budget unless a single document does — the
    budget-strict variant a fixed-context-window pipeline needs
    (VERDICT r03 #2). Since r05 this is fully distributed (VERDICT r04
    #1): boundaries are searchsorted jumps over the two-pass prefix
    sums, materialized by pointer doubling — no per-key sequential task.
    The oracle replays the greedy recurrence with a DuckDB recursive
    CTE. Aggregated per pack like doc_packing."""
    from osm2lanes_spark.operators.packing import contiguous_packs
    from osm2lanes_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens(F.col("text"))))
    packed = contiguous_packs(docs, "n_tokens", budget=2048,
                              order_col="doc_id", part_col="source",
                              exact=True)
    return (packed.groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("pack_tokens")))


def _q_doc_packing_exact_global(spark, sf_dir):
    """Global strict greedy packing (part_col=None, exact=True): one
    budget-strict pack sequence over the WHOLE corpus in doc_id order —
    the formulation r04 had to refuse because its packer was sequential
    per key; the r05 distributed boundary chase makes it legal (and
    fully parallel). Oracle: the same recursive-CTE greedy replay
    without a partition."""
    from osm2lanes_spark.operators.packing import contiguous_packs
    from osm2lanes_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens(F.col("text"))))
    packed = contiguous_packs(docs, "n_tokens", budget=4096,
                              order_col="doc_id", part_col=None,
                              exact=True)
    return (packed.groupBy("pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("pack_tokens")))


def _q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid (operators/similarity.py): class
    prototypes as one partial-aggregated shuffle of (label, dim)."""
    from osm2lanes_spark.operators.similarity import label_centroids

    emb = (_read(spark, sf_dir, "embeddings")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    out = label_centroids(emb)
    return out.select("label", "pos", F.round("mean", 6).alias("mean"), "n")



def _q_ship_priority(spark, sf_dir):
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    revenue top-10 with deterministic tie-break — multi-predicate
    pushdown + top-k over a fact-fact join."""
    cust = _read(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1997-03-15")
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1997-03-15")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(10))


def _q_repetition_stats(spark, sf_dir):
    """Within-doc repetition quality signals (text-analysis family):
    type-token ratio and top-token share per document, via explode +
    two partial-aggregated groupBys (fixed-width buffers, no
    collect_list)."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.regexp_replace(F.col("text"), r"^\s+|\s+$", ""),
                          r"\s+")).alias("tok"))
    per_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c"))
    return (per_tok.groupBy("doc_id")
            .agg(F.sum("c").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.max("c").alias("top_count"))
            .select("doc_id", "n_tokens",
                    F.round(F.col("n_distinct") / F.col("n_tokens"), 6)
                    .alias("distinct_ratio"),
                    F.round(F.col("top_count") / F.col("n_tokens"), 6)
                    .alias("top_token_ratio")))


def _q_ngram_topk(spark, sf_dir):
    """Exact corpus heavy hitters (operators/profiling.py): top-20
    lowercased word bigrams by count — the boilerplate/contamination
    screen of a corpus profile. Tie-break (count desc, ngram asc) is a
    total order, so the cut is deterministic; the plan is explode →
    map-side-combined hash aggregate → TakeOrderedAndProject (each task
    keeps its local 20; no full sort, no full count table)."""
    from osm2lanes_spark.operators.profiling import ngram_top_k

    docs = _read(spark, sf_dir, "documents")
    return ngram_top_k(docs, n=2, k=20).select(
        "ngram", F.col("count").alias("n"))


def _q_token_quantiles(spark, sf_dir):
    """Exact per-source token-count quantiles (operators/profiling.py):
    the packing-budget/truncation profile of a corpus. Histogram-based —
    the only full-data pass is one map-side-combined
    groupBy(source, value).count(); the window and quantile selection
    run over the O(distinct values) histogram. The rank rule
    value@floor((n-1)·q)+1 is replayed verbatim by the oracle."""
    from osm2lanes_spark.operators.profiling import grouped_quantiles
    from osm2lanes_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens(F.col("text"))))
    return grouped_quantiles(docs, "n_tokens",
                             (0.25, 0.5, 0.75, 0.9, 0.99), by="source")


def _q_token_quantiles_global(spark, sf_dir):
    """The GLOBAL (by=None) quantile flavor over a high-cardinality
    continuous column — the regime where a single-partition window over
    the histogram would be the scale-killer (VERDICT r05 #3). The
    distributed path (range-partitioned two-pass prefix count, the
    packing decomposition) must reproduce the exact selection rule the
    oracle replays; every value is distinct by construction
    (length + doc_id*1e-7), so histogram rows == corpus rows."""
    from osm2lanes_spark.operators.profiling import grouped_quantiles

    docs = _read(spark, sf_dir, "documents").withColumn(
        "chars_jittered",
        F.length("text") + F.col("doc_id").cast("double") * F.lit(1e-7))
    return grouped_quantiles(docs, "chars_jittered",
                             (0.25, 0.5, 0.75, 0.9, 0.99))


def _q_curation_pipeline(spark, sf_dir):
    """End-to-end curation composite — the LLM-pipeline flagship DAG:
    token gate (5 ≤ n_tokens ≤ 5000) → langid gate (en) → per-source
    mixture with fractional epochs (seed 11) → deterministic train split
    → 2048-token offset packing per source. Every stage is an existing
    oracled operator composed in ONE lazy plan (Catalyst fuses the three
    row-level gates and the mixture explode into the scan stage; the
    only shuffles are the packer's range+hash exchanges and the final
    aggregate). The oracle replays the whole chain as one CTE pipeline."""
    from osm2lanes_spark.operators.packing import contiguous_packs
    from osm2lanes_spark.operators.sampling import hash_split, mixture_sample
    from osm2lanes_spark.operators.text import tokens, with_langid
    from osm2lanes_spark.util import spread

    # spread before the scan-fused row gates: tokenize + langid + the
    # mixture explode otherwise run on the single-task scan of a
    # one-row-group file (guide §2.5; no-op at real input scale)
    docs = spread(_read(spark, sf_dir, "documents"), "doc_id",
                  barrier=True).withColumn(
        "n_tokens", F.size(tokens(F.col("text"))))
    gated = docs.where((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000))
    en = with_langid(gated).where(F.col("lang_pred") == "en")
    mixed = mixture_sample(
        en, {"src0": 2.0, "src1": 0.75, "src3": 1.5},
        id_col="doc_id", seed=11, default_rate=1.0)
    train = (hash_split(mixed, "doc_id").where(F.col("split") == "train")
             .withColumn("item_id",
                         F.concat_ws("#", F.col("doc_id").cast("string"),
                                     F.col("mix_copy").cast("string"))))
    packed = contiguous_packs(train, "n_tokens", budget=2048,
                              order_col="item_id", part_col="source")
    return (packed.groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.sum("n_tokens").alias("pack_tokens")))


def _q_contamination(spark, sf_dir):
    """Eval-set decontamination (operators/profiling.py ngram_overlap):
    docs with doc_id % 97 == 0 play the benchmark/eval set; every other
    doc is screened for distinct 3-gram overlap against it. The
    reference grams are broadcast (eval sets are small by definition);
    the corpus pays one explode + one hash shuffle by doc id."""
    from osm2lanes_spark.operators.profiling import ngram_overlap

    docs = _read(spark, sf_dir, "documents")
    reference = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return ngram_overlap(corpus, reference, n=3)


def _q_pii_redact(spark, sf_dir):
    """PII scrub (operators/text.py with_redactions): the corpus is
    PII-free by construction, so docs with doc_id % 7 == 0 get a
    deterministic planted email + URL (the embedding_neardup planting
    pattern); the operator must count and redact exactly those. The
    md5 fingerprint of the redacted text pins the exact output string
    under the hard oracle; all expressions codegen, zero shuffles."""
    from osm2lanes_spark.operators.text import with_redactions

    docs = _read(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com via https://ex.org/d/"),
                        F.col("doc_id").cast("string")))
        .otherwise(F.col("text")))
    return (with_redactions(planted)
            .select("doc_id", "n_url", "n_email",
                    F.md5(F.col("redacted")).alias("fingerprint")))


def _q_line_dedup(spark, sf_dir):
    """Cross-document line dedup (operators/dedup.py line_dedup — the
    C4/RefinedWeb boilerplate-removal step): a nav header is planted on
    every doc and a copyright footer on doc_id % 3 == 0, then lines in
    ≥5 distinct docs are stripped; the md5 of the rebuilt text pins
    byte-exact line order and separators under the hard oracle (DuckDB
    string_split + ordered string_agg replay). Doc frequencies are
    map-side-combined distinct+count shuffles; the ≥5 fingerprint set
    joins back broadcast."""
    from osm2lanes_spark.operators.dedup import line_dedup

    docs = _read(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(F.lit("SITE NAV | HOME | ABOUT\n"), F.col("text"),
                 F.when(F.col("doc_id") % 3 == 0,
                        F.lit("\nCopyright 2024 Example Corp"))
                 .otherwise(F.lit(""))))
    out = line_dedup(planted, min_docs=5)
    return out.select("doc_id", "n_lines", "n_removed_lines",
                      F.md5(F.col("clean_text")).alias("fingerprint"))


def _q_duplicate_spans(spark, sf_dir):
    """Exact duplicated-substring spans (operators/dedup.py
    duplicate_spans — Lee et al. 2022 at token granularity): maximal
    runs of 8-token windows occurring in ≥2 distinct documents, merged
    per document into (span_start, span_end) intervals. Window
    fingerprints are built JVM-side (transform/slice/xxhash64 — narrow);
    doc frequencies are one map-side-combined distinct+count shuffle
    over 8-byte hashes; the flagged set joins back broadcast. The
    DuckDB oracle replays the windows on the gram STRINGS (engine hash
    functions differ; equality semantics are identical modulo xxhash64
    collisions, absent in this corpus)."""
    from osm2lanes_spark.operators.dedup import duplicate_spans

    docs = _read(spark, sf_dir, "documents")
    return duplicate_spans(docs, k=8, min_docs=2)


def _q_strip_spans(spark, sf_dir):
    """Duplicated-span removal (operators/dedup.py
    strip_duplicate_spans): the destructive arm of `duplicate_spans` —
    flagged documents are rebuilt from their surviving tokens
    (single-space joined), unflagged documents pass through verbatim.
    The md5 of every output text pins byte-exact reconstruction under
    the hard oracle (full DuckDB replay: windows → flags → covered
    positions → anti-join → ordered string_agg)."""
    from osm2lanes_spark.operators.dedup import strip_duplicate_spans

    docs = _read(spark, sf_dir, "documents")
    out = strip_duplicate_spans(docs, k=8)
    return out.select("doc_id",
                      F.col("n_tokens").cast("bigint").alias("n_tokens"),
                      F.col("n_removed_tokens").cast("bigint")
                      .alias("n_removed_tokens"),
                      F.md5(F.col("clean_text")).alias("fingerprint"))


def _q_classifier_score(spark, sf_dir):
    """Hashed-feature linear quality score (operators/text.py
    with_classifier_score, weights=None): sigmoid of the mean
    md5-derived pseudo-weight over hashing-trick token buckets — the
    fastText-style curation filter with a deterministic placeholder
    weight vector. ZERO-shuffle: tokenize/bucket/weight/mean/sigmoid
    are all Catalyst expressions. The DuckDB oracle replays the md5
    bucket + weight derivation with strpos hex arithmetic."""
    from osm2lanes_spark.operators.text import with_classifier_score

    docs = _read(spark, sf_dir, "documents")
    out = with_classifier_score(docs, n_buckets=65536, seed=0)
    return out.select("doc_id",
                      F.round(F.col("clf_score"), 6).alias("clf_score"))


def _q_classifier_score_trained(spark, sf_dir):
    """Trained-weights arm of with_classifier_score: a 3-term weight
    vector (as a tiny (bucket, weight) DataFrame) is broadcast-joined
    onto exploded token buckets and re-aggregated to one mean per
    document — the shape a real fastText-distilled model ships in.
    The oracle derives the SAME buckets from the raw words in SQL."""
    from osm2lanes_spark.operators.text import (token_bucket,
                                                with_classifier_score)

    docs = _read(spark, sf_dir, "documents")
    words = spark.createDataFrame(
        [("spark", 2.0), ("slow", -3.0), ("table", 0.5)],
        "word string, weight double")
    weights = words.select(
        token_bucket(F.col("word"), 65536, 0).alias("bucket"), "weight")
    out = with_classifier_score(docs, n_buckets=65536, seed=0,
                                weights=weights)
    return out.select("doc_id",
                      F.round(F.col("clf_score"), 6).alias("clf_score"))


def _q_budget_selection(spark, sf_dir):
    """Token-budget corpus selection (operators/packing.py
    select_to_budget): greedy prefix selection per source until a
    2000-token budget is hit — the "take the best N tokens" curation
    cut. Distributed as the packing two-pass prefix sum (range shuffle
    of a slim projection + broadcast subtotals, no per-key window);
    the oracle is the plain SQL cumulative-sum cut."""
    from osm2lanes_spark.operators.packing import select_to_budget
    from osm2lanes_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens(F.col("text"))))
    out = select_to_budget(docs, "n_tokens", budget=2000,
                           order_col="doc_id", part_col="source")
    return out.select("doc_id", "source",
                      F.col("n_tokens").cast("bigint").alias("n_tokens"),
                      "selected")


def _q_domain_cap(spark, sf_dir):
    """Per-key row cap (operators/sampling.py cap_per_key,
    scale_safe=True): at most 10 documents per source, deterministic
    under doc_id — the RefinedWeb-style domain cap. The shipped flavor
    is the skew-proof two-pass prefix COUNT (no per-key task at any
    skew); the oracle is the plain row_number cut."""
    from osm2lanes_spark.operators.sampling import cap_per_key

    docs = _read(spark, sf_dir, "documents")
    out = cap_per_key(docs, "source", cap=10, scale_safe=True)
    return out.select("doc_id", "source", "kept")


def _q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (operators/sampling.py
    dsir_resample): score every document by the log-ratio of
    add-1-smoothed hashed-unigram+bigram distributions (target = the
    doc_id % 97 == 0 eval-like slice, the decontamination convention;
    raw = the full corpus), add deterministic md5-Gumbel noise, select
    the top 50 — Xie et al. 2023. Two bounded bucket-count shuffles +
    a broadcast ratio join + a TakeOrdered threshold; the scored slim
    relation is checkpointed so the fits run once. The DuckDB oracle
    replays features, smoothing, Gumbel and threshold bit-for-bit."""
    from osm2lanes_spark.operators.sampling import dsir_resample

    docs = _read(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 97 == 0)
    out = dsir_resample(docs, target, k=50, ns=(1, 2),
                        n_buckets=65536, alpha=1.0)
    return out.select("doc_id",
                      F.round(F.col("dsir_logw"), 6).alias("logw"),
                      F.round(F.col("dsir_key"), 6).alias("key"),
                      "selected")


def _q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py pq_encode +
    pq_adc_topk, Jégou et al. 2011): encode every embedding as 4
    single-byte codes against deterministic md5-derived codebooks
    (m=4, k=8, dsub=16 — pseudo_codebooks; the TRAINED path is pq_fit,
    pinned by its NumPy parity test), then asymmetric-distance top-5
    for 5 queries. Codes argmin on round(dist, 9) + code tie-break and
    ranks on round(adc, 6) + vec_id — quantized, engine-stable
    boundaries throughout. The DuckDB oracle replays codebooks, encode
    and ADC bit-for-bit from the md5 chain."""
    from osm2lanes_spark.operators.similarity import (pq_adc_topk,
                                                      pq_encode,
                                                      pseudo_codebooks)

    emb = (_read(spark, sf_dir, "embeddings")
           .withColumn("embedding",
                       F.col("embedding").cast("array<double>")))
    cb = pseudo_codebooks(spark, m=4, k=8, dsub=16)
    coded = pq_encode(emb, cb)
    queries = (emb.where(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return pq_adc_topk(queries, coded, cb, k=5)


def _q_kmeans_centroids(spark, sf_dir):
    """IVF coarse-quantizer training (operators/similarity.py
    kmeans_fit): 8 spherical k-means centroids over the embeddings
    table, 3 Lloyd's iterations from the deterministic bucketed-argmin
    init. Iterative — NOT SQL-expressible, so no oracle_sql entry (the
    driver records the weaker rows-only check); the hard correctness
    pin is the NumPy-reference parity test
    (tests/test_training_ops.py::test_kmeans_fit_matches_numpy_reference)
    and the exhaustive-probe-equals-brute-force IVF invariant."""
    from osm2lanes_spark.operators.similarity import kmeans_fit

    emb = _read(spark, sf_dir, "embeddings")
    out = kmeans_fit(emb, k=8, iterations=3)
    return out.select("centroid_id", "n_assigned",
                      F.round(F.element_at("centroid", 1), 6)
                      .alias("centroid_dim0"))


def _q_unigram_ppl(spark, sf_dir):
    """Unigram LM quality scoring (operators/profiling.py
    with_unigram_logprob): mean negative log-probability per document
    under the add-1-smoothed unigram model fit on the corpus itself —
    the CCNet-style perplexity filter. One map-side-combined vocabulary
    count shuffle + a token-to-vocab hash join (AQE-skew-safe; no
    ordering on the probe side) + one per-doc mean. The DuckDB oracle
    replays the same smoothed formula."""
    from osm2lanes_spark.operators.profiling import with_unigram_logprob

    docs = _read(spark, sf_dir, "documents")
    out = with_unigram_logprob(docs, alpha=1.0)
    return out.select("doc_id", F.round(F.col("nll"), 6).alias("nll"))


def _q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail split (operators/profiling.py
    with_quantile_buckets over with_unigram_logprob): tercile
    thresholds of the per-doc mean NLL partition the corpus into
    quality bands (Wenzek et al. 2020 §4.3). The quantile pass is the
    range-partitioned global grouped_quantiles; thresholds pivot to one
    broadcast row; band comparisons are quantized to 6 decimals on both
    sides (the dsir float-boundary discipline). The DuckDB oracle
    replays model, selection-rule terciles and CASE bit-for-bit."""
    from osm2lanes_spark.operators.profiling import (with_quantile_buckets,
                                                     with_unigram_logprob)

    docs = _read(spark, sf_dir, "documents")
    scored = with_unigram_logprob(docs, alpha=1.0)
    out = with_quantile_buckets(scored, "nll", qs=(1 / 3, 2 / 3),
                                labels=("head", "middle", "tail"))
    return out.select("doc_id", F.round(F.col("nll"), 6).alias("nll"),
                      "bucket")


def _q_packed_texts(spark, sf_dir):
    """Pack materialization (operators/packing.py pack_texts): the emit
    step after pack assignment — each pack becomes ONE concatenated
    training sequence in doc order. One map-side-combined shuffle keyed
    by (source, pack); per-pack state bounded by the 2048-token budget.
    The md5 of every emitted sequence pins byte-exact concatenation
    order under the hard oracle (DuckDB string_agg ORDER BY replay)."""
    from osm2lanes_spark.operators.packing import (contiguous_packs,
                                                   pack_texts)
    from osm2lanes_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens(F.col("text"))))
    packed = contiguous_packs(docs, "n_tokens", budget=2048,
                              order_col="doc_id", part_col="source")
    out = pack_texts(packed, part_col="source")
    return out.select("source", "pack_id", "n_docs",
                      F.md5(F.col("pack_text")).alias("fingerprint"))


def _q_doc_chunks(spark, sf_dir):
    """Overlapping fixed-token chunking (operators/packing.py
    chunk_documents): the context shaping step before embedding/training
    on long docs — 64-token chunks, 8-token overlap (stride 56), last
    chunk short, ≤64-token docs yield one chunk. Pure narrow Catalyst
    (tokenize once, transform+slice+posexplode — zero shuffles); the
    md5 of each chunk pins the exact slicing under the hard oracle."""
    from osm2lanes_spark.operators.packing import chunk_documents

    docs = _read(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_tokens=64, overlap_tokens=8)
    return out.select("doc_id", "chunk_idx", "n_chunk_tokens",
                      F.md5(F.col("chunk_text")).alias("fingerprint"))


def _q_tfidf_terms(spark, sf_dir):
    """Top-2 TF-IDF terms per doc (operators/profiling.py
    tfidf_top_terms, smooth sklearn idf): keyword extraction over the
    corpus — term frequencies and document frequencies from ONE
    (doc, term) aggregate, N as a broadcast 1-row aggregate, idf join
    keyed by term, one window shuffle by doc for the top-k."""
    from osm2lanes_spark.operators.profiling import tfidf_top_terms

    docs = _read(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=2)


def _q_dedup_components(spark, sf_dir):
    """Near-dup clustering (the missing last step of a dedup pipeline):
    MinHash candidate pairs → connected components via min-label
    propagation (one equi-join + one map-side-combined min-agg per round,
    localCheckpoint'ed lineage, convergence by a monotone label-sum
    witness — no driver-side graph) → full-corpus cluster assignment with
    the min-id member as the survivor. The oracle recomputes the same
    clusters from scratch in DuckDB: exact n-gram Jaccard pairs (the
    proven-equal oracle of minhash_pairs) closed transitively with a
    recursive CTE."""
    from osm2lanes_spark.operators.dedup import (dedup_clusters,
                                                 minhash_candidate_pairs)

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", threshold=0.5)
    out = dedup_clusters(docs, pairs)
    return out.select("doc_id", "component", "is_duplicate")


def _q_dedup_survivors(spark, sf_dir):
    """Survivor-policy clustering under the hard oracle (VERDICT r03 #4
    follow-through): same MinHash→components pipeline as
    dedup_components, but the per-cluster survivor is the LONGEST
    document (ties → min id) via ``dedup_clusters(keep='longest')`` —
    the keep-the-best-doc policy a real dedup pipeline uses. The oracle
    recomputes clusters from scratch (recursive-CTE closure) and picks
    the survivor with the same (length desc, id asc) window."""
    from osm2lanes_spark.operators.dedup import (dedup_clusters,
                                                 minhash_candidate_pairs)

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", threshold=0.5)
    out = dedup_clusters(docs, pairs, keep="longest")
    return out.select("doc_id", "component", "survivor_id", "is_duplicate")


def _q_langid(spark, sf_dir):
    from osm2lanes_spark.operators.text import with_langid

    docs = _read(spark, sf_dir, "documents")
    return (with_langid(docs).groupBy("lang_pred")
            .agg(F.count(F.lit(1)).alias("n")))


def _q_ann_ivf(spark, sf_dir):
    """IVF machinery end-to-end (centroid sampling, assignment, probe
    join, ranking) in the exhaustive-probe configuration
    (nprobe == n_centroids), where the output provably equals brute force
    — making the whole pipeline oracle-checkable against the same DuckDB
    SQL as ann_topk. Partial-probe (nprobe=4) recall at the same corpus is
    pinned in tests/test_training_ops.py::test_ivf_recall."""
    from osm2lanes_spark.operators.similarity import ivf_topk

    emb = (_read(spark, sf_dir, "embeddings")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    queries = (emb.where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return ivf_topk(queries, emb, k=5, n_centroids=16, nprobe=16) \
        .select("query_id", "vec_id", "rank")


def _q_multimodal(spark, sf_dir):
    """Media refs derived AS A COLUMN (no driver collect — VERDICT r01
    #6), payload synthesis and feature extraction both Arrow stages; f0
    replayed exactly by a DuckDB sha256 hex-byte oracle."""
    from osm2lanes_spark.operators.multimodal import (feature_extract_stage,
                                                      synth_media_stage)

    _ensure_workers(spark)
    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 64)
    refs = docs.select(
        F.format_string("media://%08d", F.col("doc_id")).alias("media_ref"))
    media = synth_media_stage(refs)
    feats = feature_extract_stage(media, dim=8)
    return feats.select("media_ref", "kind",
                        F.round(F.element_at("feature", 1).cast("double"), 6)
                        .alias("f0"),
                        F.size("feature").alias("dim"))


def _q_road_width(spark, sf_dir):
    """Road::width (SURVEY A1): per-road lane-width sum with locale
    defaults, as a Catalyst higher-order aggregate over the lane array
    (road/mod.rs:53-60; defaults locale.rs:26-41).

    Runs over the golden corpus's EXPECTED lane arrays (golden.parquet),
    so a DuckDB JSON oracle can replay the aggregation exactly; the
    transform's own lane output is separately pinned byte-for-byte by
    lanes_golden + the golden pytest (46/46)."""
    golden = spark.read.parquet(os.path.join(FIXTURE_DIR, "golden.parquet"))
    lane_schema = ("array<struct<type:string,width:double,"
                   "markings:array<struct<style:string,width:double,"
                   "color:string>>>>")
    lanes = golden.select(
        F.col("case_id").alias("doc_id"),
        F.from_json("expected_json", lane_schema).alias("lanes"))
    # default width for lanes without one: separators use marking widths
    # (default 0.2), travel/parking 3.5 via Lane::DEFAULT fallback shape
    marking_w = F.aggregate(
        F.coalesce(F.col("l.markings"),
                   F.array().cast("array<struct<style:string,width:double,color:string>>")),
        F.lit(0.0), lambda acc, m: acc + F.coalesce(m["width"], F.lit(0.2)))
    lane_w = F.when(F.col("l.type") == "separator", marking_w) \
        .otherwise(F.coalesce(F.col("l.width"), F.lit(3.5)))
    exploded = lanes.select("doc_id", F.explode("lanes").alias("l"))
    return (exploded.groupBy("doc_id")
            .agg(F.round(F.sum(lane_w), 3).alias("road_width_m"),
                 F.count(F.lit(1)).alias("n_lanes")))


def _q_media_refs(spark, sf_dir):
    """Interleaved media spans carried through untouched (span invariant)."""
    from osm2lanes_spark.operators.span_assembly import media_refs, span_fingerprint

    docs = spark.read.parquet(os.path.join(FIXTURE_DIR, "documents.parquet"))
    return docs.select(
        "doc_id",
        F.size(media_refs(F.col("spans"))).alias("n_media"),
        span_fingerprint(F.col("spans")).alias("span_fp"))


def _q_locale_spatial(spark, sf_dir):
    """Containment join on synthetic country polygons (rows-only; golden
    parity of the containment path is asserted in tests/test_pipeline.py)."""
    from osm2lanes_spark.fixtures.geography import all_country_polygons
    from osm2lanes_spark.spatial.joins import containment_join

    docs = _read(spark, sf_dir, "documents")
    pts = docs.select("doc_id",
                      F.expr(_LON).alias("lon"), F.expr(_LAT).alias("lat"))
    out = containment_join(pts, all_country_polygons(), level=8)
    return (out.groupBy("key").agg(F.count(F.lit(1)).alias("n_docs")))


def _q_asof_latest_view(spark, sf_dir):
    """As-of join (operators/temporal.py): every click enriched with the
    user's most recent prior-or-simultaneous view — the time-axis
    counterpart of the locale containment join. Union-window plan: one
    hash shuffle on user_id, no range-join blowup. Oracle: DuckDB's
    native ASOF LEFT JOIN ((user_id, ts) is unique in the table, so no
    tiebreak ambiguity)."""
    from osm2lanes_spark.operators.temporal import asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    views = (ev.where(F.col("event_type") == "view")
             .select("user_id", "ts", F.col("event_id").alias("view_id"),
                     F.col("value").alias("view_value")))
    joined = asof_join(clicks, views, on="user_id", ts="ts",
                       tiebreak="view_id")
    from osm2lanes_spark.operators.temporal import _micros
    return joined.select(
        "user_id", "click_id", "view_id", "view_value",
        (_micros(F.col("ts")) - _micros(F.col("asof_ts"))).alias("gap_us"))


def _q_asof_bucketed(spark, sf_dir):
    """The SKEW-SAFE as-of path (bucket_seconds: the final window
    partitions by (user_id, hour-bucket) and carry-in state flows
    through a bucket-level as-of over the tiny per-bucket extreme-row
    table) under the SAME DuckDB native-ASOF oracle as
    ``asof_latest_view`` — hard evidence the hot-key formulation is
    output-identical, not merely property-tested."""
    from osm2lanes_spark.operators.temporal import _micros, asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    views = (ev.where(F.col("event_type") == "view")
             .select("user_id", "ts", F.col("event_id").alias("view_id"),
                     F.col("value").alias("view_value")))
    joined = asof_join(clicks, views, on="user_id", ts="ts",
                       tiebreak="view_id", bucket_seconds=3600.0)
    return joined.select(
        "user_id", "click_id", "view_id", "view_value",
        (_micros(F.col("ts")) - _micros(F.col("asof_ts"))).alias("gap_us"))


def _q_sessions(spark, sf_dir):
    """Gap-based sessionization (operators/temporal.py): 8-hour gap →
    per-session event count, span and first event. Integer-microsecond
    boundary arithmetic so the window replay in SQL is bit-exact."""
    from osm2lanes_spark.operators.temporal import sessionize

    ev = _read(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts="ts",
                      gap_seconds=8 * 3600, tiebreak="event_id")
    from osm2lanes_spark.operators.temporal import _micros
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (_micros(F.max("ts"))
                  - _micros(F.min("ts"))).alias("duration_us"),
                 F.min("event_id").alias("first_event")))


def _q_sessions_scale(spark, sf_dir):
    """The SCALE-SAFE sessionize path (range-partitioned two-pass prefix
    of gap flags — no per-user window task; the packing operator's
    global/local decomposition applied to session counting) under the
    SAME SQL window-replay oracle as ``sessions`` — hard evidence the
    distributed formulation is output-identical."""
    from osm2lanes_spark.operators.temporal import _micros, sessionize

    ev = _read(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts="ts",
                      gap_seconds=8 * 3600, tiebreak="event_id",
                      scale_safe=True)
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (_micros(F.max("ts"))
                  - _micros(F.min("ts"))).alias("duration_us"),
                 F.min("event_id").alias("first_event")))


def _q_bm25(spark, sf_dir):
    """Okapi BM25 lexical retrieval (operators/profiling.py bm25_topk):
    top-10 documents for a 4-term query — the keyword-search complement
    of ann_topk. Per-doc scores fold term contributions in sorted term
    order (order-independent float sum); selection is quantized-score +
    id tie-break via TakeOrderedAndProject (never a single-partition
    sort). The DuckDB oracle replays idf/tf/length normalization and the
    sorted fold bit-for-bit."""
    from osm2lanes_spark.operators.profiling import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    return bm25_topk(docs, terms=["spark", "hash", "table", "merge"],
                     k=10)


def _q_rolling_stats(spark, sf_dir):
    """Trailing time-range window aggregates (operators/temporal.py
    rolling_stats): for every event, the count and value-sum of the
    user's events in the preceding hour — RANGE frame over integer
    microseconds, one key shuffle, O(1) sliding state per row. The sum
    runs in decimal(18,6) (exact, order-independent) and surfaces as a
    rounded double; the DuckDB oracle replays the identical frame and
    decimal arithmetic."""
    from osm2lanes_spark.operators.temporal import rolling_stats

    ev = _read(spark, sf_dir, "events")
    out = rolling_stats(ev, window_seconds=3600)
    return out.select("event_id", "user_id", "n_win", "sum_win")


def _q_bloom_contamination(spark, sf_dir):
    """Bloom-filter decontamination (operators/profiling.py bloom_build
    + bloom_contamination): the scale path when the eval/reference set
    is too large to broadcast as gram strings — the reference compresses
    to a 2^20-bit filter (~16k 63-bit words) built by one bit_or
    groupBy; corpus grams probe k=3 broadcast word joins with pure
    bitwise codegen tests. No false negatives by construction (verified
    against ngram_overlap in tests); the DuckDB oracle replays the md5
    position chain, the bit_or build and the k-probe AND bit-for-bit."""
    from osm2lanes_spark.operators.profiling import (bloom_build,
                                                     bloom_contamination)

    docs = _read(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    ref = docs.where(F.col("doc_id") % 97 == 0)
    bloom = bloom_build(ref, n=3, m_bits=1 << 20, k=3)
    return bloom_contamination(corpus, bloom, n=3, m_bits=1 << 20, k=3)


def _q_funnel(spark, sf_dir):
    """Ordered-step conversion funnel (operators/temporal.py
    window_funnel): view → click → purchase within 1 day of the first
    view, greedy earliest-chain semantics (minima only — deterministic
    and SQL-replayable, unlike sliding-restart funnels). k-1 tiny
    conditional-aggregation shuffles on the key, no per-key window or
    collected array. The DuckDB oracle replays the chain with one CTE
    per step."""
    from osm2lanes_spark.operators.temporal import window_funnel

    ev = _read(spark, sf_dir, "events")
    return window_funnel(ev, steps=["view", "click", "purchase"],
                         horizon_seconds=86400)


def _q_retention(spark, sf_dir):
    """Cohort retention triangle (operators/temporal.py
    retention_cohorts): weekly cohorts by first-seen bucket, distinct
    active keys per (cohort, offset). Epoch-aligned integer bucket
    arithmetic; two map-side-combined shuffles + one key join."""
    from osm2lanes_spark.operators.temporal import retention_cohorts

    ev = _read(spark, sf_dir, "events")
    out = retention_cohorts(ev, bucket_seconds=7 * 86400)
    return out.select("cohort", F.col("offset").alias("week_offset"),
                      "n_active")


def _q_hll_users(spark, sf_dir):
    """Deterministic HyperLogLog distinct-user estimate per event type
    (operators/sketches.py hll_distinct, Flajolet et al. 2007): md5
    register/rank derivation so the sketch is a plain mergeable TABLE
    any engine can replay — unlike approx_count_distinct's
    engine-private HLL++ bytes. Shuffle is capped at 2^p rows per
    partition by the map-side-combined register max; the DuckDB oracle
    reproduces registers, dyadic harmonic sums and the linear-counting
    branch bit-for-bit (the lone ln() is guarded by 3-decimal
    rounding)."""
    from osm2lanes_spark.operators.sketches import hll_distinct

    ev = _read(spark, sf_dir, "events")
    return hll_distinct(ev, "user_id", by=["event_type"], p=12)


def _q_interval_overlap(spark, sf_dir):
    """Interval overlap join (operators/temporal.py interval_join):
    which view/click activity windows [ts, ts + value minutes] overlap
    an error's trailing 5-minute window, per user. The scale path
    decomposes time into 10-minute cells so the theta-join becomes an
    equi-join on (user, cell) with canonical-cell dedup (no distinct
    shuffle, no BroadcastNestedLoop); the DuckDB oracle is the plain
    overlap predicate join. Microsecond integer arithmetic with
    floor() before the long cast (Spark casts truncate, DuckDB casts
    round — floor removes the divergence)."""
    from osm2lanes_spark.operators.temporal import _micros, interval_join

    ev = _read(spark, sf_dir, "events")
    us = _micros(F.col("ts"))
    left = (ev.where(F.col("event_type").isin("view", "click"))
            .select(F.col("event_id").alias("act_event"), "user_id",
                    us.alias("s"),
                    (us + F.floor(F.col("value") * 60000000.0)
                     .cast("long")).alias("e")))
    right = (ev.where(F.col("event_type") == "error")
             .select(F.col("event_id").alias("err_event"), "user_id",
                     (us - 300 * 1_000_000).alias("s"), us.alias("e")))
    out = interval_join(left, right, "s", "e", "s", "e",
                        by=["user_id"], bucket=600 * 1_000_000)
    return out.select("user_id", "act_event", "err_event")


def _q_order_priority(spark, sf_dir):
    """Semi/anti-join chain (TPC-H Q4/Q21 shape): orders per priority
    that have at least one returned line (LEFT SEMI) and no line with
    a deep discount (LEFT ANTI) — the EXISTS/NOT-EXISTS pattern every
    warehouse query mixes in. Both joins shuffle once on the order key
    with the lineitem filters pushed to the scan; no distinct, no
    subquery re-scan."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    # SHUFFLE_HASH: the planner otherwise broadcasts the ~25%-of-
    # lineitem filtered key sets (serial relation builds; r07 A/B at
    # sf1.0: 1.45 -> 0.95 s). Semi/anti semantics unchanged.
    returned = li.where(F.col("l_returnflag") == "R").hint("SHUFFLE_HASH")
    deep = li.where(F.col("l_discount") > 0.08).hint("SHUFFLE_HASH")
    kept = (orders
            .join(returned,
                  orders["o_orderkey"] == returned["l_orderkey"],
                  "left_semi")
            .join(deep, orders["o_orderkey"] == deep["l_orderkey"],
                  "left_anti"))
    return (kept.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders")))


def _q_cms_tokens(spark, sf_dir):
    """Count-Min frequency sketch (operators/sketches.py cms_build +
    cms_lookup, Cormode & Muthukrishnan 2005): token frequencies for a
    probe list read from a depth×width counter table instead of a full
    token groupBy. Pure integer md5 arithmetic end to end — the DuckDB
    oracle replays every counter and min bit-for-bit; the sketch
    shuffle is capped at depth×width rows per partition and the lookup
    broadcasts the ~8k-row sketch."""
    from osm2lanes_spark.operators.sketches import cms_build, cms_lookup
    from osm2lanes_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term"))
    cms = cms_build(toks, "term", width=2048, depth=4)
    probes = spark.createDataFrame(
        [("spark",), ("hash",), ("table",), ("merge",), ("data",),
         ("the",), ("quantum",), ("zzz_absent",)], "term string")
    return cms_lookup(cms, probes, "term", width=2048, depth=4)


def _q_cust_order_dist(spark, sf_dir):
    """Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    join with a join-side predicate, then a two-level aggregation —
    the null-preserving outer-join histogram every warehouse runs. The
    orders filter is pushed to the scan; both aggregations
    partial-combine map-side."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    # SHUFFLE_HASH: the left-outer build side is the ~million-row
    # filtered orders set — serial broadcast build otherwise (r07 A/B
    # at sf1.0: 1.1 -> 0.6 s)
    o = (orders.where(F.col("o_orderpriority") != "1-URGENT")
         .hint("SHUFFLE_HASH"))
    per_cust = (cust.join(o, cust["c_custkey"] == o["o_custkey"],
                          "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


def _q_weighted_docs(spark, sf_dir):
    """Weight-proportional sampling without replacement (operators/
    sampling.py weighted_sample, Efraimidis & Spirakis 2006 via the
    Gumbel-top-k trick): the 100 documents drawn proportional to
    n_chars. Selection is deterministic — md5-derived Gumbel noise,
    quantized keys + id tie-break, TakeOrderedAndProject threshold
    (never a global sort) — so the DuckDB oracle reproduces the exact
    chosen set."""
    from osm2lanes_spark.operators.sampling import weighted_sample

    docs = _read(spark, sf_dir, "documents")
    out = weighted_sample(docs, k=100, weight_col="n_chars")
    return out.where(F.col("selected")).select("doc_id")


def _q_scd2_status(spark, sf_dir):
    """SCD2 history builder (operators/temporal.py scd2_build): each
    customer's order-status change log collapsed to type-2 validity
    intervals — consecutive identical states merge, half-open
    [from, to) microsecond bounds, is_current on the open row. One key
    shuffle feeds both windows (lag change-detect, lead interval
    close); same-date changes break ties on the order key so the run
    dedup is deterministic. The DuckDB oracle replays the lag/lead
    chain with IS DISTINCT FROM."""
    from osm2lanes_spark.operators.temporal import scd2_build

    orders = _read(spark, sf_dir, "orders")
    return scd2_build(orders, key="o_custkey", ts="o_orderdate",
                      attrs=["o_orderstatus"], tiebreak="o_orderkey")


def _q_sssp_costs(spark, sf_dir):
    """Bounded-hop weighted shortest paths (operators/graph.py
    weighted_sssp — Bellman-Ford rounds): cheapest ≤4-edge purchase
    path from the minimum customer over the bidirectional
    customer↔supplier graph, edge weight = min order-line price in
    integer cents (exact 64-bit sums — bit-identical in any engine).
    The DuckDB oracle unrolls the same relaxation recurrence as chained
    CTEs (the pagerank idiom; enumerating paths recursively would blow
    up combinatorially)."""
    from osm2lanes_spark.operators.graph import weighted_sssp

    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    cust = _read(spark, sf_dir, "customer")
    op = orders.select("o_orderkey", "o_custkey")
    lp = li.select("l_orderkey", "l_suppkey", "l_extendedprice")
    # SHUFFLE_HASH: same rationale as _q_pagerank (serial broadcast
    # build + serial 1-task probe under BHJ; the un/redirected union
    # evaluates this subtree twice, and SHJ's exchanges are reused
    # across the two legs while a broadcast build is serial each time)
    base = (op.hint("SHUFFLE_HASH")
            .join(lp, op["o_orderkey"] == lp["l_orderkey"])
            .select((F.col("o_custkey") * 2).alias("c"),
                    (F.col("l_suppkey") * 2 + 1).alias("s"),
                    F.round(F.col("l_extendedprice") * F.lit(100.0))
                    .cast("long").alias("w")))
    edges = (base.select(F.col("c").alias("src"), F.col("s").alias("dst"),
                         "w")
             .unionByName(base.select(F.col("s").alias("src"),
                                      F.col("c").alias("dst"), "w")))
    sources = cust.agg((F.min("c_custkey") * 2).alias("node"))
    return weighted_sssp(edges, sources, max_hops=4)


def _q_triangles(spark, sf_dir):
    """Triangle counting (operators/graph.py triangle_counts) over the
    co-purchase part graph (parts sharing an order): a<b<c canonical
    orientation finds each triangle exactly once via two hash equi-joins
    — the clustering-coefficient numerator used as a graph-quality
    signal. Oracle: the identical three-way join in SQL."""
    from osm2lanes_spark.operators.graph import triangle_counts

    li = _read(spark, sf_dir, "lineitem")
    pl = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("p")).distinct()
    # SHUFFLE_HASH: the 6M⋈6M co-purchase pair join otherwise
    # sort-merges (two full sorts); hash join skips them — per-
    # partition build is |pl|/partitions rows and AQE still splits
    # skewed orders (r07 per-JVM A/B at sf1.0: 29.0-31.9 → 24.3-28.6 s
    # end-to-end warm)
    pr = (pl.select(F.col("o").alias("o2"), F.col("p").alias("p2"))
          .hint("SHUFFLE_HASH"))
    edges = (pl.join(pr, (pl["o"] == pr["o2"]) & (pl["p"] < pr["p2"]))
             .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
             .distinct())
    return triangle_counts(edges)


def _q_pagerank(spark, sf_dir):
    """Iterative PageRank (operators/graph.py) over the bipartite
    customer→supplier purchase graph — the domain-authority quality
    signal web-corpus curation weights documents by. Five fixpoint
    iterations of scaled-BIGINT arithmetic (no float sums, so
    cross-engine value-hash parity is exact); each iteration is one
    edge join + one partial-combined dst sum, scalar side-inputs ride
    broadcast 1-row cross joins; top-15 suppliers come out of a
    TakeOrderedAndProject with an integer tie-break, never a global
    sort. The DuckDB oracle unrolls the identical recurrence as
    chained CTEs."""
    from osm2lanes_spark.operators.graph import pagerank

    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    op = orders.select("o_orderkey", "o_custkey")
    lp = li.select("l_orderkey", "l_suppkey")
    # SHUFFLE_HASH (guide §3.1): the planner otherwise broadcasts the
    # million-row orders side, which serializes BOTH the driver-side
    # hashed-relation build and the single-row-group probe pipeline
    # onto one thread; a shuffled-hash join parallelizes join+distinct
    # after sub-second map writes (r07 A/B at sf1.0: 6.4-10.6 -> 2.2-
    # 3.2 s for the edge build). At real scale neither side fits a
    # broadcast anyway, and AQE skew handling still splits SHJ
    # partitions. Same rows out — join strategy only.
    edges = (op.hint("SHUFFLE_HASH")
             .join(lp, op["o_orderkey"] == lp["l_orderkey"])
             .select((F.col("o_custkey") * 2).alias("src"),
                     (F.col("l_suppkey") * 2 + 1).alias("dst"))
             .distinct())
    pr = pagerank(edges, iterations=5)
    return (pr.where(F.col("node") % 2 == 1)
            .select(((F.col("node") - 1) / 2).cast("long")
                    .alias("s_suppkey"),
                    F.col("rank").alias("rank_scaled"))
            .orderBy(F.col("rank_scaled").desc(), F.col("s_suppkey"))
            .limit(15))


def _q_qsketch_chars(spark, sf_dir):
    """Dyadic quantile sketch (operators/sketches.py qsketch_*):
    p50/p90/p99 of document length per language read from a mergeable
    ≤65-row-per-group bin table instead of a full sort or a
    distinct-value histogram. Pure integer arithmetic end to end
    (bit-length binning via bin() string length, ceil-rank targets,
    integer-linear interpolation) — the DuckDB oracle replays every
    bin, cumulative count and estimate bit-for-bit. Completes the
    engine-portable sketch family: Bloom / HLL / CMS / quantiles."""
    from osm2lanes_spark.operators.sketches import (qsketch_build,
                                                    qsketch_quantile)

    docs = _read(spark, sf_dir, "documents")
    sk = qsketch_build(docs, "n_chars", by=["lang"])
    return qsketch_quantile(
        sk, [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)],
        by=["lang"])


def _q_dq_checks(spark, sf_dir):
    """Deequ-style data-quality report (operators/profiling.py
    dq_report): completeness, uniqueness, domain and range metrics
    plus pass/fail constraints over orders, all computed in ONE
    partial-combined aggregation pass and unpivoted to the long
    (metric, value) monitoring shape — validating a petabyte table
    costs one scan of the referenced columns."""
    from osm2lanes_spark.operators.profiling import dq_report

    orders = _read(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    metrics = {
        "row_count": n,
        "null_custkey": F.count_if(F.col("o_custkey").isNull()),
        "distinct_status": F.countDistinct("o_orderstatus"),
        "min_totalprice": F.min("o_totalprice"),
        "max_totalprice": F.max("o_totalprice"),
        "dup_orderkeys": n - F.countDistinct("o_orderkey"),
        "urgent_per_mille":
            F.lit(1000.0)
            * F.count_if(F.col("o_orderpriority") == "1-URGENT") / n,
    }
    checks = {
        "no_null_custkey": F.count_if(F.col("o_custkey").isNull()) == 0,
        "prices_positive": F.min("o_totalprice") > 0,
        "status_single_char": F.max(F.length("o_orderstatus")) == 1,
    }
    return dq_report(orders, metrics, checks)


def _q_pivot_events(spark, sf_dir):
    """Relational PIVOT: per user cohort (user_id mod 16), event counts
    spread into one column per event type. The explicit value list
    keeps the output schema static (no pre-scan for distinct values),
    so Spark compiles it to ONE map-side-combined aggregate with
    conditional counters — the same plan as the oracle's FILTER
    aggregation, one shuffle of 16×5 partial rows."""
    ev = _read(spark, sf_dir, "events")
    return (ev.withColumn("cohort", (F.col("user_id") % 16).cast("int"))
            .groupBy("cohort")
            .pivot("event_type",
                   ["click", "error", "purchase", "signup", "view"])
            .agg(F.count(F.lit(1)))
            .na.fill(0))


def _q_nation_pairs(spark, sf_dir):
    """Bilateral trade volume (TPC-H Q7 shape): revenue between every
    (supplier nation, customer nation) pair per order year — the
    five-way snowflake join with the same dimension joined twice under
    different roles. supplier/customer/nation broadcast (≤1% of fact
    size); lineitem⋈orders is the only real shuffle; the aggregation
    partial-combines to ≤ |nations|²·years rows. Revenue sums run in
    decimal(18,6) (exact, order-independent — the double-sum noise at
    thousands of groups flips round-2 cent boundaries between
    engines) and surface as rounded doubles."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    sn = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    cn = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    # SHUFFLE_HASH on the fact-fact join (guide §3.1): the planner
    # otherwise broadcasts the million-row orders side — a serial
    # driver-side relation build plus a serial single-row-group probe
    # pipeline (r07 A/B at sf1.0: 6.3 -> 2.3 s); the dims stay
    # broadcast. Strategy only — same rows out.
    orders = orders.hint("SHUFFLE_HASH")
    return (li
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
            .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(sn), supp["s_nationkey"] == sn["s_nk"])
            .join(F.broadcast(cn), cust["c_nationkey"] == cn["c_nk"])
            .where(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation",
                     F.year("o_orderdate").alias("o_year"))
            .agg(F.round(F.sum((F.col("l_extendedprice")
                                * (1 - F.col("l_discount")))
                               .cast("decimal(18,6)")).cast("double"), 2)
                 .alias("revenue")))


def _q_cheapest_supplier(spark, sf_dir):
    """Argmin-per-group (TPC-H Q2 shape without partsupp): for each
    part, the supplier offering the lowest line price, price ties
    broken by supplier key. A map-side-combined ``min(struct(price,
    suppkey))`` aggregate — lexicographic struct ordering IS the
    window's (price asc, suppkey asc) tie-break, so the result is
    bit-identical to the r06 row_number formulation (A/B'd equal on
    all 200k parts), but the shuffle carries one partial per (task,
    part) instead of every line and the per-partition sort disappears
    (guide §2.3 — r07: 9-10 s -> 1.3-1.8 s at sf1.0)."""
    li = _read(spark, sf_dir, "lineitem")
    best = (li.groupBy(F.col("l_partkey").alias("p_partkey"))
            .agg(F.min(F.struct(F.col("l_extendedprice"),
                                F.col("l_suppkey"))).alias("__b")))
    return best.select("p_partkey",
                       F.col("__b.l_suppkey").alias("best_suppkey"),
                       F.round(F.col("__b.l_extendedprice"), 2)
                       .alias("best_price"))


def _q_vocab_coverage(spark, sf_dir):
    """Tokenizer-vocabulary coverage curve (operators/profiling.py
    vocab_coverage): top-50 tokens by corpus frequency with cumulative
    coverage share. One explode + one map-side-combined count shuffle;
    selection is TakeOrderedAndProject (never a global sort); the
    total rides a 1-row broadcast and the ranking window covers
    exactly 50 rows. Integer counts → the share is bit-exact."""
    from osm2lanes_spark.operators.profiling import vocab_coverage

    return vocab_coverage(_read(spark, sf_dir, "documents"), top_n=50)


def _q_source_overlap(spark, sf_dir):
    """Cross-source 3-gram overlap matrix (operators/profiling.py
    key_ngram_overlap): for every source pair, the number of distinct
    word 3-grams both emit — the scraped-twice / shared-boilerplate
    screen run before mixing corpora. One distinct (key, gram)
    aggregate; the pair join keys on the GRAM with fan-out bounded by
    |sources|, and the final count moves ≤ |sources|² rows."""
    from osm2lanes_spark.operators.profiling import key_ngram_overlap

    return key_ngram_overlap(_read(spark, sf_dir, "documents"),
                             "source", n=3)


def _q_fuzzy_names(spark, sf_dir):
    """Blocked Levenshtein entity resolution (operators/dedup.py
    edit_distance_pairs): duplicate-customer candidates within a
    (nation, market-segment) block at edit distance ≤ 2. ID-like names
    share a constant prefix, so every neighborhood is DENSE — the
    measured regime where the plain banded block join beats PassJoin
    segment filtering (candidates ≈ output either way; A/B in
    BENCH/BASELINE.md) — hence method='band' here, with the segment
    path (the sparse/huge-block scale flavor, same result set —
    equivalence pinned in tests) left at its default elsewhere. The
    quadratic term is bounded by the largest block; the length band
    prunes before any distance evaluation; all codegen, no Python."""
    from osm2lanes_spark.operators.dedup import edit_distance_pairs

    return edit_distance_pairs(
        _read(spark, sf_dir, "customer"), id_col="c_custkey",
        text_col="c_name", block_by=("c_nationkey", "c_mktsegment"),
        threshold=2, method="band")


def _q_small_qty_revenue(spark, sf_dir):
    """Correlated-subquery decorrelation (TPC-H Q17 shape): revenue
    lost to sub-20%-of-average-quantity orders, per brand. The
    per-part average is a partial-combined aggregate joined back on
    the part key (the decorrelated plan Catalyst would also produce
    for the scalar subquery); part is a broadcast dim. l_quantity is
    integer-valued so the per-part mean is EXACT (integer sums are
    order-independent in doubles below 2^53) — the 0.2·avg comparison
    cannot flip between engines; revenue sums in decimal(18,6)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    avgq = (li.groupBy("l_partkey")
            .agg(F.avg("l_quantity").alias("__avg_qty"))
            # SHUFFLE_HASH: the 200k-row per-part average otherwise
            # broadcasts, leaving the 6M-row probe fused into the
            # single-row-group scan's one task (r07 A/B at sf1.0:
            # 2.2-4.7 -> 1.8-2.5 s)
            .hint("SHUFFLE_HASH"))
    return (li.join(avgq, "l_partkey")
            .where(F.col("l_quantity")
                   < F.lit(0.2) * F.col("__avg_qty"))
            .join(F.broadcast(part),
                  F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(F.round((F.sum(F.col("l_extendedprice")
                                .cast("decimal(18,6)"))
                          .cast("double") / F.lit(7.0)), 2)
                 .alias("avg_yearly")))


def _q_late_suppliers(spark, sf_dir):
    """EXISTS / NOT-EXISTS self-join chain (TPC-H Q21 shape): suppliers
    who alone shipped >100 days after the order date on multi-supplier
    orders. Both quantifiers compile to LeftSemi/LeftAnti hash joins
    on the ORDER key (high-cardinality — no skew exposure); the
    supplier dim broadcasts; top-20 is TakeOrderedAndProject."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    supp = _read(spark, sf_dir, "supplier")
    late = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .where(F.datediff(F.to_date("l_shipdate"),
                              F.to_date("o_orderdate")) > 100)
            .select("l_orderkey", "l_suppkey").distinct())
    alll = li.select("l_orderkey", "l_suppkey").distinct()
    other = alll.select(F.col("l_orderkey").alias("__ok"),
                        F.col("l_suppkey").alias("__sk"))
    other_late = late.select(F.col("l_orderkey").alias("__ok"),
                             F.col("l_suppkey").alias("__sk"))
    waiting = (late
               .join(other, (F.col("l_orderkey") == F.col("__ok"))
                     & (F.col("l_suppkey") != F.col("__sk")),
                     "left_semi")
               .join(other_late, (F.col("l_orderkey") == F.col("__ok"))
                     & (F.col("l_suppkey") != F.col("__sk")),
                     "left_anti"))
    return (waiting.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_name", "numwait")
            .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
            .limit(20))


def _q_idle_rich(spark, sf_dir):
    """Scalar-subquery + anti-join (TPC-H Q22 shape): customers above
    the average positive balance who never ordered, rolled up per
    nation. The threshold is a 1-row broadcast computed as
    decimal-sum / count (exact — no partition-order float drift in
    the comparison); the no-orders test is a LeftAnti hash join on
    the customer key; per-nation sums in decimal(18,6)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    thr = (cust.where(F.col("c_acctbal") > 0)
           .agg((F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
                 .cast("double")
                 / F.count(F.lit(1))).alias("__thr")))
    return (cust.crossJoin(F.broadcast(thr))
            .where(F.col("c_acctbal") > F.col("__thr"))
            # SHUFFLE_HASH: the anti-join otherwise broadcasts the
            # 1.5M o_custkey keys (serial relation build; r07 A/B at
            # sf1.0: 0.9-1.0 -> 0.7 s warm, 3.2 -> 1.4 cold)
            .join(orders.select(F.col("o_custkey").alias("__ck"))
                  .hint("SHUFFLE_HASH"),
                  F.col("c_custkey") == F.col("__ck"), "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum(F.col("c_acctbal")
                               .cast("decimal(18,6)"))
                         .cast("double"), 2).alias("totacctbal")))


def _q_mad_outliers(spark, sf_dir):
    """Robust per-language outlier profile: median and MAD (median
    absolute deviation) of tokens-per-document, plus the count of docs
    beyond 3·MAD — the length-outlier screen quality pipelines run
    before truncation. Both medians reuse grouped_quantiles' exact
    integer rank rule over O(distinct values) histograms (two bounded
    aggregates — never a sort of the corpus); deviations are integers,
    so every comparison is engine-exact."""
    from osm2lanes_spark.operators.profiling import grouped_quantiles
    from osm2lanes_spark.operators.text import tokens
    from osm2lanes_spark.util import spread

    # spread before the scan-fused tokenize (single-file-scan guard;
    # no-op at real input scale; byte-gated — the tokenize is linear in
    # input, so tiny files run faster unspread than the exchange costs)
    docs = (spread(_read(spark, sf_dir, "documents"), "doc_id",
                   min_bytes=4 << 20)
            .select("lang", F.size(tokens(F.col("text")))
                    .alias("n_tokens")))
    med = (grouped_quantiles(docs, "n_tokens", (0.5,), by="lang")
           .select("lang", F.col("value").alias("median")))
    dev = (docs.join(F.broadcast(med), "lang")
           .withColumn("dev", F.abs(F.col("n_tokens")
                                    - F.col("median"))))
    mad = (grouped_quantiles(dev, "dev", (0.5,), by="lang")
           .select("lang", F.col("value").alias("mad")))
    return (dev.join(F.broadcast(mad), "lang")
            .groupBy("lang", "median", "mad")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_if(F.col("dev") > 3 * F.col("mad"))
                 .alias("n_outliers")))


def _q_cdc_merge(spark, sf_dir):
    """MERGE INTO semantics (operators/cdc.py merge_upsert): a
    deterministic change batch (updates on keys ≡0 mod 50, inserts on
    shifted keys, deletes on keys ≡49 mod 100) applied to orders via
    ONE full-outer hash join on the key — matched rows take the source
    payload, delete-flagged rows drop, unmatched target rows pass
    through. Rolled up per resulting status with decimal-exact sums.
    The oracle replays the equivalent anti-join ∪ surviving-source
    construction."""
    from osm2lanes_spark.operators.cdc import merge_upsert

    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    updates = (orders.where(F.col("o_orderkey") % 50 == 0)
               .select("o_orderkey",
                       F.lit("X").alias("o_orderstatus"),
                       (F.col("o_totalprice") + 1000)
                       .alias("o_totalprice"),
                       F.lit(False).alias("__del")))
    inserts = (orders.where(F.col("o_orderkey") % 97 == 3)
               .select((F.col("o_orderkey") + 100_000_000)
                       .alias("o_orderkey"),
                       F.lit("N").alias("o_orderstatus"),
                       F.col("o_totalprice").alias("o_totalprice"),
                       F.lit(False).alias("__del")))
    deletes = (orders.where(F.col("o_orderkey") % 100 == 49)
               .select("o_orderkey", "o_orderstatus", "o_totalprice",
                       F.lit(True).alias("__del")))
    source = updates.unionByName(inserts).unionByName(deletes)
    merged = merge_upsert(orders, source, ["o_orderkey"],
                          delete_col="__del")
    return (merged.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice")
                               .cast("decimal(18,6)"))
                         .cast("double"), 2).alias("total_price")))


def _q_cdc_compact(spark, sf_dir):
    """Latest-wins change-log compaction (operators/cdc.py
    compact_cdc_log): events replayed as a per-user I/U/D log ordered
    by the unique event id; each user's final state survives unless
    the last op is a delete. ONE window over the log's key shuffle —
    the base table is never read. Survivor payloads aggregate per
    event_type with decimal-exact value sums."""
    from osm2lanes_spark.operators.cdc import compact_cdc_log

    ev = _read(spark, sf_dir, "events")
    log = ev.select(
        "user_id", "event_id", "event_type", "value",
        F.element_at(F.array(F.lit("I"), F.lit("U"), F.lit("U"),
                             F.lit("D")),
                     (F.pmod(F.col("event_id"), F.lit(4)) + 1)
                     .cast("int")).alias("op"))
    survivors = compact_cdc_log(log, ["user_id"], "event_id")
    return (survivors.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                         .cast("double"), 2).alias("total_value")))


def _q_price_histogram(spark, sf_dir):
    """Equi-width histogram (operators/profiling.py numeric_histogram):
    order totals in 16 bins per priority with PER-GROUP bounds. Two
    partial-combined aggregates (bounds ≤ |groups| rows broadcast
    back, then the binned count) — never a sort, never a window; bin
    arithmetic is identical IEEE doubles in both engines."""
    from osm2lanes_spark.operators.profiling import numeric_histogram

    return numeric_histogram(_read(spark, sf_dir, "orders"),
                             "o_totalprice", bins=16,
                             by="o_orderpriority")


def _q_part_skyline(spark, sf_dir):
    """2-D Pareto frontier (operators/profiling.py pareto_frontier_2d):
    parts no other part beats on BOTH price and size — the skyline
    without the quadratic dominator join. Range-prefix MIN over the
    (price, min size) reduction with the packing checkpoint
    discipline; the oracle is the literal NOT EXISTS dominator."""
    from osm2lanes_spark.operators.profiling import pareto_frontier_2d

    part = _read(spark, sf_dir, "part")
    return (pareto_frontier_2d(part, "p_retailprice", "p_size")
            .select("p_partkey", "p_retailprice", "p_size"))


def _q_events_gapfill(spark, sf_dir):
    """Gap-filled hourly event counts (operators/temporal.py
    densify_counts): every (hour, type) cell of the observed range
    emitted, zeros included — the alerting shape where a missing
    bucket must read 0. Counts partial-combine; the dense grid is a
    1-row bounds aggregate × the distinct type list (time-span-
    bounded, a declared tiny cross join) joining the counts back.
    Integer-microsecond bucketing, engine-exact."""
    from osm2lanes_spark.operators.temporal import densify_counts

    return densify_counts(_read(spark, sf_dir, "events"), "ts",
                          by_col="event_type", bucket_seconds=3600)


def _q_balance_deciles(spark, sf_dir):
    """Per-nation account-balance deciles via ntile(10) on a total
    order (balance, custkey — deterministic under ties): the windowed
    bucketing shape. ONE hash exchange on the nation key; decile
    stats partial-combine after the window. Min/max are exact row
    values (no sums), so cross-engine parity is trivial."""
    from pyspark.sql import Window

    cust = _read(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return (cust.withColumn("decile", F.ntile(10).over(w))
            .groupBy("c_nationkey", "decile")
            .agg(F.count(F.lit(1)).alias("n_cust"),
                 F.round(F.min("c_acctbal"), 2).alias("lo_bal"),
                 F.round(F.max("c_acctbal"), 2).alias("hi_bal")))


def _q_supplier_reach(spark, sf_dir):
    """Bounded-hop BFS (operators/graph.py bfs_distances) over the
    undirected customer↔supplier purchase graph from 10 seed
    suppliers: hop 0 = seeds, 1 = their customers, 2 = co-suppliers.
    Frontier-only joins against a checkpointed adjacency; the DuckDB
    oracle replays it as a bounded recursive CTE. Reported as the
    (distance, node-kind) histogram."""
    from osm2lanes_spark.operators.graph import bfs_distances

    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    op = orders.select("o_orderkey", "o_custkey")
    lp = li.select("l_orderkey", "l_suppkey")
    # SHUFFLE_HASH: same rationale as _q_pagerank (serial broadcast
    # build + serial 1-task probe under BHJ)
    edges = (op.hint("SHUFFLE_HASH")
             .join(lp, op["o_orderkey"] == lp["l_orderkey"])
             .select((F.col("o_custkey") * 2).alias("src"),
                     (F.col("l_suppkey") * 2 + 1).alias("dst"))
             .distinct())
    seeds = (spark.range(1, 11)
             .select((F.col("id") * 2 + 1).alias("node")))
    dists = bfs_distances(edges, seeds, max_hops=2, directed=False)
    return (dists.withColumn(
        "kind", F.when(F.col("node") % 2 == 1, "supplier")
                 .otherwise("customer"))
            .groupBy("dist", "kind")
            .agg(F.count(F.lit(1)).alias("n_nodes")))


def _q_value_quantiles_cont(spark, sf_dir):
    """Interpolated (percentile_cont) global quantiles of the
    continuous event value — grouped_quantiles' interpolate=True
    flavor over the DISTRIBUTED range-prefix histogram (every value
    distinct → the regime a single-partition window must not touch).
    Both neighbour ranks come from the same cumulative histogram; the
    linear blend is written in a fixed IEEE op order the oracle
    replays bit-for-bit."""
    from osm2lanes_spark.operators.profiling import grouped_quantiles

    ev = _read(spark, sf_dir, "events")
    return grouped_quantiles(ev, "value", (0.25, 0.5, 0.9, 0.99),
                             interpolate=True)


def _q_events_rollup(spark, sf_dir):
    """Multi-level OLAP rollup: (event_type, hour) → subtotals → grand
    total in ONE pass (Spark expands grouping sets map-side; at 100 TB
    this is one shuffle instead of three)."""
    ev = _read(spark, sf_dir, "events")
    return (ev.withColumn("hr", F.hour("ts"))
            .rollup("event_type", "hr")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def _q_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): NATION_5's share of
    EUROPE-customer revenue per order year. Dual-role nation dim
    (supplier side names the share nation, customer side routes through
    region), decimal numerator/denominator summed exactly, ONE final
    double division rounded — partial-agg order can't move the result."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    cn = F.broadcast(nation.join(region,
                                 nation["n_regionkey"]
                                 == region["r_regionkey"])
                     .where(F.col("r_name") == "EUROPE")
                     .select(F.col("n_nationkey").alias("ck")))
    sn = F.broadcast(nation.select(F.col("n_nationkey").alias("sk"),
                                   F.col("n_name").alias("supp_nation")))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,6)")
    # SHUFFLE_HASH: same serial-broadcast-build rationale as
    # _q_nation_pairs (r07 A/B at sf1.0: 2.8 -> 2.1 s)
    orders = orders.hint("SHUFFLE_HASH")
    j = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
         .join(cust, orders["o_custkey"] == cust["c_custkey"])
         .join(cn, cust["c_nationkey"] == F.col("ck"))
         .join(supp, li["l_suppkey"] == supp["s_suppkey"])
         .join(sn, supp["s_nationkey"] == F.col("sk"))
         .select(F.year("o_orderdate").alias("o_year"),
                 vol.alias("volume"), "supp_nation"))
    return (j.groupBy("o_year")
            .agg(F.sum(F.when(F.col("supp_nation") == "NATION_5",
                              F.col("volume"))
                       .otherwise(F.lit(0).cast("decimal(18,6)")))
                 .alias("__num"),
                 F.sum("volume").alias("__den"))
            .select("o_year",
                    F.round(F.col("__num").cast("double")
                            / F.col("__den").cast("double"), 6)
                    .alias("mkt_share")))


def _q_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape (returned-item ranking): top-20 customers by
    revenue lost to returns in one quarter. Exact decimal revenue +
    custkey tie-break makes the top-20 cut engine-stable; selection is
    a TakeOrderedAndProject, never a global sort."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = F.broadcast(_read(spark, sf_dir, "nation"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,6)")
    j = (li.where(F.col("l_returnflag") == "R")
         .join(orders.where(
             (F.col("o_orderdate") >= F.lit("1996-01-01"))
             & (F.col("o_orderdate") < F.lit("1996-04-01"))),
             li["l_orderkey"] == orders["o_orderkey"])
         .join(cust, orders["o_custkey"] == cust["c_custkey"])
         .join(nation, cust["c_nationkey"] == nation["n_nationkey"]))
    # rounding happens in EXACT decimal space (HALF_UP both engines);
    # rounding the double instead diverges on .5 shortest-repr cases
    agg = (j.groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
           .agg(F.sum(rev).cast("decimal(18,2)").cast("double")
                .alias("revenue")))
    return (agg.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
            .limit(20))


def _q_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): orders whose total
    line quantity exceeds 300 units, with the customer and the order
    totals. Quantities are integer-valued doubles — the HAVING cut is
    exact in any engine."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity"), 0).cast("long")
                .alias("total_qty"))
           .where(F.col("total_qty") > 300))
    return (big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .select("c_custkey", "c_name", "o_orderkey",
                    F.col("o_orderdate").cast("date").cast("string")
                    .alias("orderdate"),
                    "total_qty"))


def _q_brand_revenue_bands(spark, sf_dir):
    """TPC-H Q19 shape (OR-of-ANDs predicate revenue): three disjunctive
    (brand, size band, quantity band) arms — the disjunction must still
    reach the scans as a pushable filter, and the decimal sum is
    order-exact."""
    li = _read(spark, sf_dir, "lineitem")
    part = F.broadcast(_read(spark, sf_dir, "part"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,6)")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    arm1 = ((F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15))
    arm2 = ((F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(5, 20)
            & F.col("l_quantity").between(10, 25))
    arm3 = ((F.col("p_brand") == "Brand#33")
            & F.col("p_size").between(15, 40)
            & F.col("l_quantity").between(20, 35))
    return (j.where(arm1 | arm2 | arm3)
            .agg(F.sum(rev).cast("decimal(18,2)").cast("double")
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


def _q_trips(spark, sf_dir):
    """Trip segmentation (spatial/trajectory.py trip_segments): user
    traces cut where the time gap exceeds 24 h OR the step exceeds
    25000 km (gap-dominated here: the hash-scattered synthetic points
    never trip the jump cut, exercising the time rule + path sums) — GPS trip detection, the spatial twin of sessionize. One
    entity-keyed exchange for lag + running break count + roll-up;
    cross-cut steps belong to no trip. Oracle: window replay with the
    identical haversine and integer quantization."""
    from osm2lanes_spark.spatial.trajectory import trip_segments

    ev = _read(spark, sf_dir, "events")
    traces = ev.select(F.col("user_id"), F.col("ts"), F.col("event_id"),
                       F.expr(_ELON).alias("lon"),
                       F.expr(_ELAT).alias("lat"))
    return trip_segments(traces, gap_minutes=1440.0, jump_km=25000.0,
                         entity="user_id", tiebreak="event_id")


def _q_revenue_cube(spark, sf_dir):
    """Full CUBE lattice (nation × order-year, all four grouping sets)
    in ONE pass — the OLAP completion next to `events_rollup`'s
    hierarchy. Grouping flags are explicit indicator columns (portable
    across engines, unlike engine-specific grouping-id bit layouts);
    revenue sums as decimal(18,2) so partial-aggregation order can't
    move the result. Oracle: GROUP BY CUBE with GROUPING()."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = F.broadcast(_read(spark, sf_dir, "nation"))
    j = (orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
         .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
         .select("n_name", F.year("o_orderdate").alias("yr"),
                 F.col("o_totalprice").cast("decimal(18,2)").alias("p")))
    return (j.cube("n_name", "yr")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 # exact decimal sum, ONE final conversion to double
                 # (deterministic) — DuckDB surfaces decimals as float64
                 F.round(F.sum("p").cast("double"), 2).alias("revenue"),
                 F.grouping("n_name").cast("int").alias("g_nation"),
                 F.grouping("yr").cast("int").alias("g_year"))
            .select(F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                    F.coalesce(F.col("yr").cast("string"), F.lit("ALL"))
                    .alias("year"),
                    "g_nation", "g_year", "n_orders", "revenue"))


def _shipped(fn):
    @functools.wraps(fn)
    def wrapper(spark, sf_dir):
        _ensure_workers(spark)
        # timestamp-vs-string comparisons parse literals in the session
        # timezone; pin UTC so results match the (TZ-naive) DuckDB oracle
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)
    return wrapper


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": _shipped(_q_pricing_summary),
        "region_revenue": _shipped(_q_region_revenue),
        "event_ranks": _shipped(_q_event_ranks),
        "events_props": _shipped(_q_events_props),
        "grid_binning": _shipped(_q_grid_binning),
        "s2_binning": _shipped(_q_s2_binning),
        "knn": _shipped(_q_knn),
        "knn3": _shipped(_q_knn3),
        "distance_pairs": _shipped(_q_distance_pairs),
        "geohash_binning": _shipped(_q_geohash_binning),
        "dbscan_clusters": _shipped(_q_dbscan_clusters),
        "cluster_stats": _shipped(_q_cluster_stats),
        "idw_events": _shipped(_q_idw_events),
        "trajectories": _shipped(_q_trajectories),
        "raster_focal": _shipped(_q_raster_focal),
        "raster_peaks": _shipped(_q_raster_peaks),
        "tile_pyramid": _shipped(_q_tile_pyramid),
        "zonal": _shipped(_q_zonal),
        "dedup_exact": _shipped(_q_dedup_exact),
        "token_stats": _shipped(_q_token_stats),
        "text_quality": _shipped(_q_text_quality),
        "ann_topk": _shipped(_q_ann_topk),
        "top_suppliers": _shipped(_q_top_suppliers),
        "customer_set_ops": _shipped(_q_customer_set_ops),
        "road_width": _shipped(_q_road_width),
        "media_refs": _shipped(_q_media_refs),
        "lanes_golden": _shipped(_q_lanes_golden),
        "lanes_roundtrip": _shipped(_q_lanes_roundtrip),
        "minhash_pairs": _shipped(_q_minhash_pairs),
        "simhash_pairs": _shipped(_q_simhash_pairs),
        "embedding_neardup": _shipped(_q_embedding_neardup),
        "semdedup": _shipped(_q_semdedup),
        "gopher_rules": _shipped(_q_gopher_rules),
        "rolling_stats": _shipped(_q_rolling_stats),
        "bm25": _shipped(_q_bm25),
        "funnel": _shipped(_q_funnel),
        "bloom_contamination": _shipped(_q_bloom_contamination),
        "retention": _shipped(_q_retention),
        "hll_users": _shipped(_q_hll_users),
        "interval_overlap": _shipped(_q_interval_overlap),
        "order_priority": _shipped(_q_order_priority),
        "cms_tokens": _shipped(_q_cms_tokens),
        "cust_order_dist": _shipped(_q_cust_order_dist),
        "weighted_docs": _shipped(_q_weighted_docs),
        "scd2_status": _shipped(_q_scd2_status),
        "pagerank": _shipped(_q_pagerank),
        "sssp_costs": _shipped(_q_sssp_costs),
        "triangles": _shipped(_q_triangles),
        "qsketch_chars": _shipped(_q_qsketch_chars),
        "dq_checks": _shipped(_q_dq_checks),
        "pivot_events": _shipped(_q_pivot_events),
        "nation_pairs": _shipped(_q_nation_pairs),
        "cheapest_supplier": _shipped(_q_cheapest_supplier),
        "vocab_coverage": _shipped(_q_vocab_coverage),
        "source_overlap": _shipped(_q_source_overlap),
        "fuzzy_names": _shipped(_q_fuzzy_names),
        "small_qty_revenue": _shipped(_q_small_qty_revenue),
        "late_suppliers": _shipped(_q_late_suppliers),
        "idle_rich": _shipped(_q_idle_rich),
        "mad_outliers": _shipped(_q_mad_outliers),
        "ngram_jaccard": _shipped(_q_ngram_jaccard),
        "jaccard_prefix": _shipped(_q_jaccard_prefix),
        "cdc_merge": _shipped(_q_cdc_merge),
        "cdc_compact": _shipped(_q_cdc_compact),
        "price_histogram": _shipped(_q_price_histogram),
        "part_skyline": _shipped(_q_part_skyline),
        "events_gapfill": _shipped(_q_events_gapfill),
        "balance_deciles": _shipped(_q_balance_deciles),
        "supplier_reach": _shipped(_q_supplier_reach),
        "value_quantiles_cont": _shipped(_q_value_quantiles_cont),
        "langid": _shipped(_q_langid),
        "dedup_components": _shipped(_q_dedup_components),
        "dedup_survivors": _shipped(_q_dedup_survivors),
        "promo_revenue": _shipped(_q_promo_revenue),
        "hash_split": _shipped(_q_hash_split),
        "mixture_sample": _shipped(_q_mixture),
        "stratified_sample": _shipped(_q_stratified),
        "doc_packing": _shipped(_q_doc_packing),
        "doc_packing_exact": _shipped(_q_doc_packing_exact),
        "doc_packing_exact_global": _shipped(_q_doc_packing_exact_global),
        "label_centroids": _shipped(_q_label_centroids),
        "ship_priority": _shipped(_q_ship_priority),
        "repetition_stats": _shipped(_q_repetition_stats),
        "ngram_topk": _shipped(_q_ngram_topk),
        "contamination": _shipped(_q_contamination),
        "pii_redact": _shipped(_q_pii_redact),
        "line_dedup": _shipped(_q_line_dedup),
        "duplicate_spans": _shipped(_q_duplicate_spans),
        "strip_spans": _shipped(_q_strip_spans),
        "classifier_score": _shipped(_q_classifier_score),
        "classifier_score_trained": _shipped(_q_classifier_score_trained),
        "budget_selection": _shipped(_q_budget_selection),
        "domain_cap": _shipped(_q_domain_cap),
        "kmeans_centroids": _shipped(_q_kmeans_centroids),
        "dsir_select": _shipped(_q_dsir_select),
        "ppl_buckets": _shipped(_q_ppl_buckets),
        "ann_pq": _shipped(_q_ann_pq),
        "unigram_ppl": _shipped(_q_unigram_ppl),
        "doc_chunks": _shipped(_q_doc_chunks),
        "tfidf_terms": _shipped(_q_tfidf_terms),
        "packed_texts": _shipped(_q_packed_texts),
        "token_quantiles": _shipped(_q_token_quantiles),
        "token_quantiles_global": _shipped(_q_token_quantiles_global),
        "curation_pipeline": _shipped(_q_curation_pipeline),
        "ann_ivf": _shipped(_q_ann_ivf),
        "multimodal_features": _shipped(_q_multimodal),
        "locale_spatial": _shipped(_q_locale_spatial),
        "asof_latest_view": _shipped(_q_asof_latest_view),
        "asof_bucketed": _shipped(_q_asof_bucketed),
        "sessions": _shipped(_q_sessions),
        "sessions_scale": _shipped(_q_sessions_scale),
        "events_rollup": _shipped(_q_events_rollup),
        "revenue_cube": _shipped(_q_revenue_cube),
        "trips": _shipped(_q_trips),
        "market_share": _shipped(_q_market_share),
        "returned_revenue": _shipped(_q_returned_revenue),
        "volume_customers": _shipped(_q_volume_customers),
        "brand_revenue_bands": _shipped(_q_brand_revenue_bands),
    }


# ---------------------------------------------------------------------------
# Oracle SQL generators (DuckDB 1.0 — no json_each, json ext scalar fns OK)
# ---------------------------------------------------------------------------

def _langid_oracle() -> str:
    """Marker-count argmax replayed in SQL; ties resolve to the earliest
    language code, matching text.with_langid's comparator."""
    from osm2lanes_spark.operators.text import LANG_MARKERS

    def lst(ws):
        return "[" + ", ".join(f"'{w}'" for w in ws) + "]"

    score = {}
    for lang in sorted(LANG_MARKERS):
        ms = LANG_MARKERS[lang]
        if lang == "zh":
            score[lang] = " + ".join(
                f"(CASE WHEN contains(text, '{m}') THEN 1 ELSE 0 END)"
                for m in ms)
        else:
            score[lang] = (f"len(list_filter(toks, "
                           f"x -> list_contains({lst(ms)}, x)))")
    return f"""
        WITH t AS (
          SELECT doc_id, text,
                 CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'),
                                          x -> lower(x))
                 END AS toks
          FROM documents),
        s AS (
          SELECT {score['de']} AS de, {score['en']} AS en, {score['es']} AS es,
                 {score['fr']} AS fr, {score['zh']} AS zh
          FROM t)
        SELECT lang_pred, count(*) AS n FROM (
          SELECT CASE WHEN de >= greatest(en, es, fr, zh) THEN 'de'
                      WHEN en >= greatest(es, fr, zh) THEN 'en'
                      WHEN es >= greatest(fr, zh) THEN 'es'
                      WHEN fr >= zh THEN 'fr'
                      ELSE 'zh' END AS lang_pred
          FROM s) GROUP BY lang_pred
    """


def _md5_uniform_sql(mcol: str) -> str:
    """The hash_uniform replay (first 8 md5 hex chars / 2^32) over an
    md5-hex column; DuckDB 1.0 has no strtol, so hex→int is strpos
    arithmetic (same construction as the hash_split/mixture oracles)."""
    return ("(" + "\n                      + ".join(
        f"(strpos('0123456789abcdef', substring({mcol}, {i}, 1)) - 1)"
        f" * {float(16 ** (8 - i)):.1f}"
        for i in range(1, 9)) + ") / 4294967296.0")


def _md5_hex32_sql(mcol: str) -> str:
    """First 8 md5 hex chars as a plain 32-bit integer (the
    token_bucket / hash-uniform numerator); strpos hex arithmetic, no
    strtol in DuckDB 1.0."""
    return ("(" + "\n                      + ".join(
        f"(strpos('0123456789abcdef', substring({mcol}, {i}, 1)) - 1)"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)) + ")")


def _dsir_oracle() -> str:
    """operators/sampling.py dsir_resample replayed end-to-end:
    lowercased unigram+bigram features → md5 hashing-trick buckets →
    add-1-smoothed log-ratio of target (doc_id % 97 == 0) vs raw (all
    docs) bucket distributions → per-doc sum → md5-Gumbel key →
    top-50 threshold."""
    bkt = _md5_hex32_sql("md5('b:0:' || gram)") + " % 65536"
    gum = ("(" + _md5_hex32_sql("md5('g:0:' || CAST(doc_id AS VARCHAR))")
           + " + 0.5) / 4294967296.0")
    ws = r"[ \t\n\r\f\x0B]"
    return f"""
        WITH base AS (
            SELECT doc_id, text,
                   regexp_replace(text, '^{ws}+|{ws}+$', '', 'g')
                       AS trimmed
            FROM documents),
        tokl AS (
            SELECT doc_id,
                   CASE WHEN length(trimmed) = 0
                        THEN CAST([] AS VARCHAR[])
                        ELSE list_transform(
                            regexp_split_to_array(trimmed, '{ws}+'),
                            x -> lower(x)) END AS toks
            FROM base WHERE text IS NOT NULL),
        g AS (
            SELECT doc_id,
                   unnest(list_concat(
                       toks,
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(
                                range(1, len(toks)),
                                i -> array_to_string(toks[i:i+1], ' '))
                            ELSE CAST([] AS VARCHAR[]) END)) AS gram
            FROM tokl),
        bk AS (SELECT doc_id, {bkt} AS bucket FROM g),
        qc AS (SELECT bucket, count(*) AS cq FROM bk GROUP BY bucket),
        pc AS (SELECT bucket, count(*) AS cp FROM bk
               WHERE doc_id % 97 = 0 GROUP BY bucket),
        tot AS (SELECT (SELECT coalesce(sum(cq), 0) FROM qc) AS tq,
                       (SELECT coalesce(sum(cp), 0) FROM pc) AS tp),
        ratio AS (
            SELECT b.bucket,
                   ln(coalesce(pc.cp, 0) + 1.0) - ln(tot.tp + 65536.0)
                 - ln(coalesce(qc.cq, 0) + 1.0) + ln(tot.tq + 65536.0)
                       AS lr
            FROM (SELECT DISTINCT bucket FROM bk) b
            LEFT JOIN qc USING (bucket)
            LEFT JOIN pc USING (bucket), tot),
        agg AS (
            SELECT bk.doc_id, sum(r.lr) AS logw
            FROM bk JOIN ratio r USING (bucket) GROUP BY bk.doc_id),
        keyed AS (
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(a.logw, 0.0) END AS logw,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(a.logw, 0.0)
                             - ln(-ln({gum})) END AS key
            FROM documents d LEFT JOIN agg a USING (doc_id)),
        kth AS (
            -- the rank-50 row of the (round(key,6) DESC, doc_id ASC)
            -- order == the lexicographic max of (-key6, doc_id) over
            -- the top 50 (the operator's quantized, tie-broken
            -- threshold — float-jitter-proof)
            SELECT -nk AS kth6, kid FROM (
                SELECT -round(key, 6) AS nk, doc_id AS kid FROM keyed
                WHERE key IS NOT NULL
                ORDER BY round(key, 6) DESC, doc_id ASC LIMIT 50)
            ORDER BY nk DESC, kid DESC LIMIT 1)
        SELECT k.doc_id, round(k.logw, 6) AS logw,
               round(k.key, 6) AS key,
               coalesce(round(k.key, 6) > kth.kth6
                        OR (round(k.key, 6) = kth.kth6
                            AND k.doc_id <= kth.kid),
                        FALSE) AS selected
        FROM keyed k LEFT JOIN kth ON TRUE
    """


# Planted docs for the gopher_rules query: each violates EXACTLY ONE rule
# (bullet lines / ellipsis lines / non-alpha words / symbol ratio) while
# passing all others, plus one multi-line doc that passes everything —
# the natural corpus is single-line, so the line rules need planting to
# be exercised on both sides. Shared verbatim by query and oracle.
_GOPHER_PLANTS: list[tuple[int, str]] = [
    (900001, "\n".join(
        ["- the quick brown fox jumps of and that have with lazy dog"] * 6)),
    (900002, "\n".join(
        ["the quick brown fox jumps of and that have with lazy dog..."] * 6)),
    (900003, ("12345 " * 55) + "the of and"),
    (900004, ("word# " * 55) + "the of and that"),
    (900005, "\n".join(
        ["the quick brown fox jumps of and that have with lazy dog"] * 6)),
]


def _gopher_oracle() -> str:
    """DuckDB replay of with_gopher_rules (operators/text.py): same
    tokenization/line split/regexes, rule comparisons on the UNROUNDED
    int/int divisions, surfaced ratios rounded to 6 — bit-identical
    boundaries across engines."""
    ws = r"[ \t\n\r\f\x0B]"
    vals = ",\n                ".join(
        "({}, '{}')".format(i, t.replace("'", "''"))
        for i, t in _GOPHER_PLANTS)
    return f"""
        WITH plants(doc_id, text) AS (VALUES
                {vals}),
        alldocs AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM plants),
        t AS (
            SELECT doc_id, text,
                   regexp_split_to_array(regexp_replace(text, '^{ws}+|{ws}+$', '', 'g'), '{ws}+') AS toks,
                   string_split(text, chr(10)) AS lines
            FROM alldocs),
        m AS (
            SELECT doc_id,
                   len(toks) AS n_words,
                   list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS mean_len,
                   len(regexp_extract_all(text, '#|\\.\\.\\.|…')) * 1.0 / len(toks) AS sym_ratio,
                   len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*•]'))) * 1.0 / len(lines) AS bullet_f,
                   len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t]*$'))) * 1.0 / len(lines) AS ellip_f,
                   len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(toks) AS alpha_f,
                   len(list_intersect(list_transform(toks, x -> lower(x)),
                                      ['the','be','to','of','and','that','have','with'])) AS stop_hits
            FROM t)
        SELECT doc_id, n_words,
               round(mean_len, 6) AS mean_word_len,
               round(sym_ratio, 6) AS symbol_ratio,
               round(bullet_f, 6) AS bullet_frac,
               round(ellip_f, 6) AS ellipsis_frac,
               round(alpha_f, 6) AS alpha_frac,
               stop_hits,
               (n_words >= 50 AND n_words <= 100000
                AND mean_len >= 3.0 AND mean_len <= 10.0
                AND sym_ratio <= 0.1 AND bullet_f <= 0.9 AND ellip_f <= 0.3
                AND alpha_f >= 0.8 AND stop_hits >= 2) AS gopher_keep
        FROM m
    """


def _bloom_oracle(n_bits: int = 1 << 20, k: int = 3) -> str:
    """operators/profiling.py bloom_build + bloom_contamination replayed
    end-to-end: the reference slice's distinct 3-grams hash into an
    m-bit/63-bit-word Bloom table (md5 'bf:<seed>:<j>:' chain — the
    token_bucket hex arithmetic), every corpus gram probes all k words,
    a gram is flagged iff every masked bit is set."""
    ws = r"[ \t\n\r\f\x0B]"

    def h32(j: int, gcol: str) -> str:
        return _md5_hex32_sql(f"md5('bf:0:{j}:' || {gcol})")

    build_pos = "\n            UNION ALL\n".join(
        f"            SELECT ({h32(j, 'gram')}) % {n_bits} AS pos FROM ref"
        for j in range(k))
    probe_cols = ",\n                   ".join(
        f"({h32(j, 'gram')}) % {n_bits} AS p{j}" for j in range(k))
    probe_joins = "\n            ".join(
        f"LEFT JOIN bloom b{j} ON CAST((pr.p{j} - pr.p{j} % 63) / 63 "
        f"AS BIGINT) = b{j}.word" for j in range(k))
    hit = " AND ".join(
        f"(b{j}.bits IS NOT NULL AND (b{j}.bits "
        f"& CAST(power(2, pr.p{j} % 63) AS BIGINT)) "
        f"= CAST(power(2, pr.p{j} % 63) AS BIGINT))" for j in range(k))
    return f"""
        WITH t AS (
            SELECT doc_id,
                   CASE WHEN length(regexp_replace(text, '^{ws}+|{ws}+$', '', 'g')) = 0
                        THEN CAST([] AS VARCHAR[])
                        ELSE list_transform(
                            regexp_split_to_array(regexp_replace(text, '^{ws}+|{ws}+$', '', 'g'), '{ws}+'),
                            x -> lower(x))
                   END AS toks
            FROM documents),
        g3 AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3
                        THEN list_distinct(list_transform(
                            range(1, len(toks) - 1),
                            i -> array_to_string(toks[i:i+2], ' ')))
                        ELSE CAST([] AS VARCHAR[]) END AS grams
            FROM t),
        ref AS (
            SELECT DISTINCT unnest(grams) AS gram
            FROM g3 WHERE doc_id % 97 = 0),
        positions AS (
{build_pos}),
        bloom AS (
            SELECT CAST((pos - pos % 63) / 63 AS BIGINT) AS word,
                   bit_or(CAST(power(2, pos % 63) AS BIGINT)) AS bits
            FROM positions GROUP BY 1),
        corpus AS (
            SELECT doc_id, unnest(grams) AS gram
            FROM g3 WHERE doc_id % 97 <> 0),
        pr AS (
            SELECT doc_id, gram,
                   {probe_cols}
            FROM corpus),
        fl AS (
            SELECT pr.doc_id,
                   ({hit}) AS hit
            FROM pr
            {probe_joins}),
        stats AS (
            SELECT doc_id, count(*) AS n_ngrams,
                   CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_flagged
            FROM fl GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(s.n_ngrams, 0) AS n_ngrams,
               coalesce(s.n_flagged, 0) AS n_flagged,
               CASE WHEN coalesce(s.n_ngrams, 0) > 0
                    THEN round(s.n_flagged * 1.0 / s.n_ngrams, 6)
               END AS flag_ratio
        FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        LEFT JOIN stats s ON d.doc_id = s.doc_id
    """


def _hll_oracle(p: int = 12) -> str:
    """operators/sketches.py hll_sketch + hll_estimate replayed: md5
    register/rank derivation (rank by scanning the hex string — no
    log/bit builtins), max-per-register sketch, exact dyadic harmonic
    sum, linear-counting small-range branch. Every float literal is
    spelled e0 so DuckDB parses doubles, not decimals — the arithmetic
    then matches Spark's bit-for-bit (the lone ln() is rounded away)."""
    m = 1 << p
    reg = _md5_hex32_sql("h") + f" % {m}"
    return f"""
        WITH hv AS (
            SELECT event_type,
                   md5('hll:0:' || CAST(user_id AS VARCHAR)) AS h
            FROM events WHERE user_id IS NOT NULL),
        rk AS (
            SELECT event_type,
                   ({reg}) AS register,
                   regexp_replace(substring(h, 9, 8), '^0*', '') AS st
            FROM hv),
        sk AS (
            SELECT event_type, register,
                   max(CASE WHEN length(st) = 0 THEN 33
                       ELSE (8 - length(st)) * 4
                            + CASE WHEN substring(st, 1, 1) = '1' THEN 3
                                   WHEN substring(st, 1, 1) IN ('2','3')
                                        THEN 2
                                   WHEN substring(st, 1, 1)
                                        IN ('4','5','6','7') THEN 1
                                   ELSE 0 END + 1 END) AS rank
            FROM rk GROUP BY event_type, register),
        est AS (
            SELECT event_type,
                   count(*) AS n_registers,
                   sum(power(2e0, -rank)) AS hsum
            FROM sk GROUP BY event_type)
        SELECT event_type,
               n_registers,
               round(CASE WHEN (0.7213e0 / (1e0 + 1.079e0 / {m})
                                * {m} * {m})
                               / (hsum + ({m} - n_registers))
                               <= 2.5e0 * {m}
                          AND CAST({m} - n_registers AS DOUBLE) > 0
                     THEN {m} * ln({m}
                                   / CAST({m} - n_registers AS DOUBLE))
                     ELSE (0.7213e0 / (1e0 + 1.079e0 / {m}) * {m} * {m})
                          / (hsum + ({m} - n_registers))
                     END, 3) AS est_distinct
        FROM est
    """


def _cms_oracle(width: int = 2048, depth: int = 4) -> str:
    """operators/sketches.py cms_build + cms_lookup replayed: tokens →
    depth md5 counter rows each → per-(row, bucket) counts → min over
    rows per probe, 0 for empty counters. Integer arithmetic only —
    bit-exact by construction."""
    ws = r"[ \t\n\r\f\x0B]"
    bucket = _md5_hex32_sql(
        "md5('cms:0:' || CAST(j AS VARCHAR) || ':' || term)") \
        + f" % {width}"
    probes = ", ".join(f"('{t}')" for t in
                       ["spark", "hash", "table", "merge", "data",
                        "the", "quantum", "zzz_absent"])
    return f"""
        WITH t AS (
            SELECT CASE WHEN length(regexp_replace(text, '^{ws}+|{ws}+$', '', 'g')) = 0
                        THEN CAST([] AS VARCHAR[])
                        ELSE list_transform(
                            regexp_split_to_array(regexp_replace(text, '^{ws}+|{ws}+$', '', 'g'), '{ws}+'),
                            x -> lower(x))
                   END AS toks
            FROM documents),
        tok AS (SELECT unnest(toks) AS term FROM t),
        cms AS (
            SELECT j, ({bucket}) AS bucket, count(*) AS cnt
            FROM tok, (SELECT unnest([{", ".join(str(j) for j in range(depth))}]) AS j)
            GROUP BY 1, 2),
        probes(term) AS (VALUES {probes}),
        pq AS (
            SELECT term, j, ({bucket}) AS bucket
            FROM probes, (SELECT unnest([{", ".join(str(j) for j in range(depth))}]) AS j))
        SELECT pq.term, min(coalesce(cms.cnt, 0)) AS est_count
        FROM pq LEFT JOIN cms ON pq.j = cms.j AND pq.bucket = cms.bucket
        GROUP BY pq.term
    """


def _cust_order_dist_oracle() -> str:
    """TPC-H Q13 shape: outer join with join-side predicate, then the
    order-count histogram."""
    return """
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c.c_custkey,
                     count(o.o_orderkey) AS c_count
              FROM customer c
              LEFT OUTER JOIN orders o
                ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey)
        GROUP BY c_count
    """


def _weighted_docs_oracle(k: int = 100) -> str:
    """operators/sampling.py weighted_sample replayed: md5 uniform →
    Gumbel noise → ln(weight) + g keys quantized to 6 decimals →
    top-k with doc_id tie-break (the dsir float-boundary discipline)."""
    u = ("((" + _md5_hex32_sql("md5('w:0:' || CAST(doc_id AS VARCHAR))")
         + " + 0.5e0) / 4294967296e0)")
    return f"""
        WITH keyed AS (
            SELECT doc_id,
                   CASE WHEN n_chars > 0 THEN
                        round(ln(CAST(n_chars AS DOUBLE))
                              - ln(-ln({u})), 6)
                   END AS k6
            FROM documents)
        SELECT doc_id FROM keyed
        WHERE k6 IS NOT NULL
        QUALIFY row_number() OVER (ORDER BY k6 DESC, doc_id ASC) <= {k}
    """


def _scd2_oracle() -> str:
    """operators/temporal.py scd2_build replayed: lag change-detect
    (IS DISTINCT FROM = the NULL-safe struct compare), lead interval
    close, same (ts, tiebreak) ordering."""
    return """
        WITH ordered AS (
            SELECT o_custkey, o_orderstatus,
                   epoch_us(o_orderdate) AS us, o_orderkey,
                   lag(o_orderstatus) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev
            FROM orders),
        chg AS (
            SELECT * FROM ordered
            WHERE o_orderstatus IS DISTINCT FROM prev)
        SELECT o_custkey, o_orderstatus,
               us AS valid_from_us,
               lead(us) OVER (PARTITION BY o_custkey
                              ORDER BY us, o_orderkey) AS valid_to_us,
               lead(us) OVER (PARTITION BY o_custkey
                              ORDER BY us, o_orderkey) IS NULL
                   AS is_current
        FROM chg
    """


def _interval_overlap_oracle() -> str:
    """operators/temporal.py interval_join replayed as the plain
    closed-interval overlap predicate join (the bucketed scale path is
    output-identical by construction — canonical-cell dedup — and
    property-tested against brute force)."""
    return """
        WITH l AS (
            SELECT * FROM (
                SELECT event_id AS act_event, user_id,
                       epoch_us(ts) AS s,
                       epoch_us(ts)
                       + CAST(floor(value * 60000000e0) AS BIGINT) AS e
                FROM events WHERE event_type IN ('view', 'click'))
            WHERE s IS NOT NULL AND e IS NOT NULL AND s <= e),
        r AS (
            SELECT event_id AS err_event, user_id,
                   epoch_us(ts) - 300000000 AS s, epoch_us(ts) AS e
            FROM events WHERE event_type = 'error')
        SELECT l.user_id, l.act_event, r.err_event
        FROM l JOIN r ON l.user_id = r.user_id
                     AND l.s <= r.e AND r.s <= l.e
    """


def _order_priority_oracle() -> str:
    """The semi/anti chain as EXISTS / NOT EXISTS."""
    return """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R')
          AND NOT EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_discount > 0.08e0)
        GROUP BY o_orderpriority
    """


def _unigram_nll_ctes() -> str:
    """The add-1 smoothed self-trained unigram NLL per doc as a CTE
    chain ending in ``scored(doc_id, nll)`` (NULL text → NULL, empty →
    0.0) — shared by the unigram_ppl and ppl_buckets oracles."""
    ws = r"[ \t\n\r\f\x0B]"
    return f"""
        tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(regexp_replace(text, '^{ws}+|{ws}+$', '', 'g'), '{ws}+')) AS tok
            FROM documents
            WHERE length(regexp_replace(text, '^{ws}+|{ws}+$', '', 'g')) > 0),
        vocab AS (
            SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
        tot AS (
            SELECT sum(cnt) AS total, count(*) AS v FROM vocab),
        lp AS (
            SELECT t.doc_id,
                   ln(v.cnt + 1.0) - ln(tot.total + 1.0 * (tot.v + 1))
                       AS lp
            FROM tok t JOIN vocab v USING (tok), tot),
        agg AS (
            SELECT doc_id, -avg(lp) AS nll FROM lp GROUP BY doc_id),
        scored AS (
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(a.nll, 0.0) END AS nll
            FROM documents d LEFT JOIN agg a USING (doc_id))"""


def _ppl_buckets_oracle() -> str:
    """operators/profiling.py with_quantile_buckets over
    with_unigram_logprob: selection-rule terciles of the per-doc NLL,
    band comparisons quantized to 6 decimals on both sides."""
    q1, q2 = repr(1 / 3), repr(2 / 3)
    return f"""
        WITH {_unigram_nll_ctes()},
        hist AS (
            SELECT nll AS val, count(*) AS cnt FROM scored
            WHERE nll IS NOT NULL GROUP BY nll),
        cum AS (
            SELECT val,
                   sum(cnt) OVER (ORDER BY val) AS cum,
                   sum(cnt) OVER () AS total
            FROM hist),
        thr AS (
            SELECT q, min(val) AS t
            FROM cum CROSS JOIN (SELECT unnest([{q1}, {q2}]) AS q)
            WHERE cum >= floor((total - 1) * q) + 1
            GROUP BY q),
        one AS (
            SELECT min(CASE WHEN q = {q1} THEN t END) AS t0,
                   min(CASE WHEN q = {q2} THEN t END) AS t1
            FROM thr)
        SELECT s.doc_id, round(s.nll, 6) AS nll,
               CASE WHEN s.nll IS NULL THEN NULL
                    WHEN round(s.nll, 6) <= round(one.t0, 6) THEN 'head'
                    WHEN round(s.nll, 6) <= round(one.t1, 6) THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored s, one
    """


def _ann_pq_oracle() -> str:
    """operators/similarity.py pq_encode + pq_adc_topk replayed: the
    md5-derived codebooks (pseudo_codebooks seed 0), the quantized
    argmin encode, and the ADC top-5 with the quantized rank."""
    cval = (_md5_hex32_sql(
        "md5('c:0:' || sub || ':' || cid || ':' || dim)")
        + " / 4294967296.0 * 2 - 1")
    return f"""
        WITH dims AS (SELECT unnest(range(16)) AS dim),
        subs AS (SELECT unnest(range(4)) AS sub),
        cids AS (SELECT unnest(range(8)) AS cid),
        cb AS (
            SELECT sub, cid, dim, {cval} AS cval
            FROM subs, cids, dims),
        ev AS (
            SELECT e.vec_id, s.sub, d.dim,
                   e.embedding[s.sub * 16 + d.dim + 1]::DOUBLE AS ev
            FROM embeddings e, subs s, dims d),
        dist AS (
            SELECT ev.vec_id, ev.sub, cb.cid,
                   round(sum((ev.ev - cb.cval) * (ev.ev - cb.cval)), 9)
                       AS d9
            FROM ev JOIN cb ON ev.sub = cb.sub AND ev.dim = cb.dim
            GROUP BY ev.vec_id, ev.sub, cb.cid),
        code AS (
            SELECT vec_id, sub, cid FROM (
                SELECT vec_id, sub, cid,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d9, cid) AS rn
                FROM dist) WHERE rn = 1),
        lut AS (
            SELECT ev.vec_id AS query_id, ev.sub, cb.cid,
                   sum((ev.ev - cb.cval) * (ev.ev - cb.cval)) AS pd
            FROM ev JOIN cb ON ev.sub = cb.sub AND ev.dim = cb.dim
            WHERE ev.vec_id < 5
            GROUP BY ev.vec_id, ev.sub, cb.cid),
        adc AS (
            SELECT l.query_id, c.vec_id, sum(l.pd) AS s
            FROM code c JOIN lut l ON c.sub = l.sub AND c.cid = l.cid
            GROUP BY l.query_id, c.vec_id)
        SELECT query_id, vec_id, round(s, 6) AS adc, rank FROM (
            SELECT query_id, vec_id, s,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY round(s, 6), vec_id)
                       AS rank
            FROM adc) WHERE rank <= 5
    """


def _curation_oracle() -> str:
    """The whole curation composite replayed as one CTE pipeline: token
    gate → marker-argmax langid (en) → seeded-md5 mixture multiset →
    md5-uniform train split → offset-packing window → pack aggregate.
    Each stage is the verbatim oracle of its standalone query."""
    from osm2lanes_spark.operators.text import LANG_MARKERS

    def lst(ws):
        return "[" + ", ".join(f"'{w}'" for w in ws) + "]"

    score = {}
    for lang in sorted(LANG_MARKERS):
        ms = LANG_MARKERS[lang]
        if lang == "zh":
            score[lang] = " + ".join(
                f"(CASE WHEN contains(text, '{m}') THEN 1 ELSE 0 END)"
                for m in ms)
        else:
            score[lang] = (f"len(list_filter(toks, "
                           f"x -> list_contains({lst(ws=ms)}, x)))")
    mix_u = _md5_uniform_sql("m_mix")
    split_u = _md5_uniform_sql("m_split")
    return f"""
        WITH tok AS (
          SELECT doc_id, source, text,
                 CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'),
                                          x -> lower(x))
                 END AS toks,
                 CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0
                      ELSE len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'))
                 END AS n_tokens
          FROM documents),
        gated AS (SELECT * FROM tok WHERE n_tokens BETWEEN 5 AND 5000),
        scored AS (
          SELECT doc_id, source, n_tokens,
                 {score['de']} AS de, {score['en']} AS en, {score['es']} AS es,
                 {score['fr']} AS fr, {score['zh']} AS zh
          FROM gated),
        en AS (
          -- argmax with earliest-code tie-break, filtered to 'en'
          SELECT doc_id, source, n_tokens FROM scored
          WHERE NOT de >= greatest(en, es, fr, zh)
            AND en >= greatest(es, fr, zh)),
        seeded AS (
          SELECT doc_id, source, n_tokens,
                 md5(CAST(doc_id AS VARCHAR) || ':11') AS m_mix,
                 md5(CAST(doc_id AS VARCHAR)) AS m_split,
                 CASE source WHEN 'src0' THEN 2.0
                             WHEN 'src1' THEN 0.75
                             WHEN 'src3' THEN 1.5
                             ELSE 1.0 END AS rate
          FROM en),
        mixed AS (
          SELECT doc_id, source, n_tokens, m_split,
                 unnest(range(CAST(FLOOR(rate) AS BIGINT)
                              + CASE WHEN {mix_u}
                                          < rate - FLOOR(rate)
                                     THEN 1 ELSE 0 END)) AS mix_copy
          FROM seeded),
        train AS (
          SELECT doc_id, source, n_tokens,
                 CAST(doc_id AS VARCHAR) || '#'
                   || CAST(mix_copy AS VARCHAR) AS item_id
          FROM mixed
          WHERE {split_u} < 0.8),
        packed AS (
          SELECT source, doc_id, n_tokens,
                 CAST(floor((sum(n_tokens) OVER (
                          PARTITION BY source ORDER BY item_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - n_tokens)
                      / 2048.0) AS BIGINT) AS pack_id
          FROM train)
        SELECT source, pack_id, count(*) AS n_items,
               count(DISTINCT doc_id) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        FROM packed GROUP BY source, pack_id
    """


def _locale_spatial_oracle() -> str:
    """Pure-SQL even-odd ray casting against the synthetic country
    polygons (vertices embedded as full-precision literals): the
    independent replay of the engine's covering-cell + PIP containment
    join. NULLIF guards the horizontal-edge division exactly like the
    numpy kernel's continue."""
    from osm2lanes_spark.fixtures.geography import all_country_polygons

    polys = all_country_polygons()
    edges = []
    for key in sorted(polys):
        ring = polys[key]
        n = len(ring)
        for i in range(n):
            x0, y0 = ring[i]
            x1, y1 = ring[(i + 1) % n]
            edges.append(f"('{key}', {x0!r}, {y0!r}, {x1!r}, {y1!r})")
    return f"""
        WITH pts AS (
          SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM documents),
        verts(key, x0, y0, x1, y1) AS (VALUES {", ".join(edges)}),
        crossings AS (
          SELECT p.doc_id, v.key,
                 CASE WHEN (v.y0 > p.lat) <> (v.y1 > p.lat)
                           AND p.lon < (v.x1 - v.x0) * (p.lat - v.y0)
                                       / nullif(v.y1 - v.y0, 0) + v.x0
                      THEN 1 ELSE 0 END AS c
          FROM pts p CROSS JOIN verts v),
        inside AS (
          SELECT doc_id, key FROM crossings
          GROUP BY doc_id, key HAVING sum(c) % 2 = 1),
        resolved AS (
          SELECT p.doc_id, min(i.key) AS key
          FROM pts p LEFT JOIN inside i USING (doc_id) GROUP BY p.doc_id)
        SELECT key, count(*) AS n_docs FROM resolved GROUP BY key
    """


def _media_refs_oracle() -> str:
    """Span-sequence invariant replayed in SQL: per-doc media count and
    the order-sensitive sha256 fingerprint over (kind, text, media_ref)."""
    fixture = os.path.join(FIXTURE_DIR, "documents.parquet")
    return f"""
        WITH u AS (
          SELECT doc_id, unnest(spans) AS s FROM read_parquet('{fixture}')),
        agg AS (
          SELECT doc_id,
                 CAST(count(*) FILTER (s.kind = 'media') AS INT) AS n_media,
                 sha256(string_agg(
                     concat_ws(chr(31), s.kind, coalesce(s.text, ''),
                               coalesce(s.media_ref, '')),
                     chr(30) ORDER BY s."offset")) AS span_fp
          FROM u GROUP BY doc_id)
        SELECT doc_id, n_media, span_fp FROM agg
    """


def _multimodal_oracle() -> str:
    """fake_decode's byte-histogram bin 0 replayed from sha256 hex: the
    payload is digest*6 over 192 bytes, so f0 = (#digest bytes < 32) / 32,
    squeezed through FLOAT to replicate the float32 feature dtype."""
    def hexbyte(i: int) -> str:
        c1 = f"substring(h, {2 * i - 1}, 1)"
        c2 = f"substring(h, {2 * i}, 1)"
        return (f"((strpos('0123456789abcdef', {c1}) - 1) * 16 + "
                f"(strpos('0123456789abcdef', {c2}) - 1))")

    bytes_list = ", ".join(hexbyte(i) for i in range(1, 33))
    return f"""
        WITH m AS (
          SELECT printf('media://%08d', doc_id) AS media_ref,
                 sha256(printf('media://%08d', doc_id)) AS h
          FROM documents WHERE doc_id < 64),
        b AS (
          SELECT media_ref, [{bytes_list}] AS bytes FROM m)
        SELECT media_ref, 'image' AS kind,
               round(CAST(CAST(len(list_filter(bytes, x -> x < 32)) * 6.0
                               / 192.0 AS FLOAT) AS DOUBLE), 6) AS f0,
               CAST(8 AS INT) AS dim
        FROM b
    """


def _road_width_oracle() -> str:
    """Lane-width sum over the golden expected-lanes JSON via DuckDB JSON
    scalar functions (from_json list-of-json; 1.0.0 has no json_each)."""
    gold = os.path.join(FIXTURE_DIR, "golden.parquet")
    return f"""
        WITH lanes AS (
          SELECT case_id AS doc_id,
                 unnest(from_json(expected_json, '["json"]')) AS lane
          FROM read_parquet('{gold}')),
        w AS (
          SELECT doc_id,
                 CASE WHEN json_extract_string(lane, '$.type') = 'separator' THEN
                   coalesce(list_sum(list_transform(
                       from_json(json_extract(lane, '$.markings'), '["json"]'),
                       m -> coalesce(TRY_CAST(json_extract_string(m, '$.width')
                                              AS DOUBLE), 0.2))), 0.0)
                 ELSE coalesce(TRY_CAST(json_extract_string(lane, '$.width')
                                        AS DOUBLE), 3.5)
                 END AS lane_w
          FROM lanes)
        SELECT doc_id, round(sum(lane_w), 3) AS road_width_m,
               count(*) AS n_lanes
        FROM w GROUP BY doc_id
    """


def _simhash_oracle(max_hamming: int = 6) -> str:
    """Brute-force SimHash hamming join, bit-for-bit: md5-derived 32-bit
    half hashes (matching dedup.simhash_signatures hash_fn='md5'), 64
    per-bit vote aggregates, unrolled hex→int via strpos. Valid as the
    oracle because 8x8-bit banding guarantees exact recall at hamming<=7
    (pigeonhole), so the engine's banded output equals this exhaustive
    join."""
    def hex32(start: int) -> str:
        terms = []
        for k in range(8):
            mult = 16 ** (7 - k)
            terms.append(f"(strpos('0123456789abcdef', "
                         f"substring(h, {start + k}, 1)) - 1) * {mult}")
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    votes = []
    for b in range(64):
        col = "lo" if b < 32 else "hi"
        bit = b % 32
        votes.append(
            f"sum(CASE WHEN (({col} // {1 << bit}) % 2) = 1 "
            f"THEN 1 ELSE -1 END) AS v{b}")
    bits = ", ".join(f"CASE WHEN v{b} > 0 THEN 1 ELSE 0 END"
                     for b in range(64))
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split(
                     trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')),
                     ' '))) AS tok
          FROM documents),
        hx AS (
          SELECT doc_id, md5(tok) AS h FROM toks),
        halves AS (
          SELECT doc_id, {hex32(1)} AS hi, {hex32(9)} AS lo FROM hx),
        votes AS (
          SELECT doc_id, {", ".join(votes)} FROM halves GROUP BY doc_id),
        bits AS (
          SELECT doc_id, [{bits}] AS bl FROM votes)
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               CAST(list_sum(list_transform(range(1, 65),
                    i -> CASE WHEN a.bl[i] <> b.bl[i] THEN 1 ELSE 0 END))
                    AS INT) AS hamming
        FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        WHERE list_sum(list_transform(range(1, 65),
              i -> CASE WHEN a.bl[i] <> b.bl[i] THEN 1 ELSE 0 END))
              <= {max_hamming}
    """


def _s2_oracle(level: int = 12) -> str:
    """Full S2 cell-id replay in DuckDB SQL: lon/lat → unit xyz → cube
    face + (u,v) → quadratic ST → leaf (i,j) → Hilbert cell id via the
    same canonical lookup table the numpy kernel uses (embedded as a
    constant list), then parent arithmetic to ``level``. All integer steps
    are exact; the float steps (trig/sqrt on the fixture's derived
    coordinates) are bit-stable across numpy and DuckDB — ``floor`` is
    explicit because DuckDB CAST(double AS BIGINT) rounds while numpy
    astype truncates."""
    from osm2lanes_spark.spatial.s2 import _LOOKUP_POS

    tbl = list(map(int, _LOOKUP_POS))
    new_lsb = 1 << (2 * (30 - level))
    minus_lsb = (1 << 64) - new_lsb
    steps = []
    prev, prev_n, prev_b = "start", "n_init", "b_init"
    for k in range(7, -1, -1):
        idx = (f"({prev_b} + ((i >> {4 * k}) & 15) * 64"
               f" + ((j >> {4 * k}) & 15) * 4)")
        steps.append(
            f", v{k} AS (SELECT *, tbl[{idx} + 1] AS val{k} FROM {prev})"
            f", s{k} AS (SELECT *, {prev_n} | (CAST(val{k} >> 2 AS UBIGINT)"
            f" << {8 * k}) AS n{k}, val{k} & 3 AS b{k} FROM v{k})")
        prev, prev_n, prev_b = f"s{k}", f"n{k}", f"b{k}"
    return f"""
        WITH lk AS (SELECT {tbl} AS tbl),
        pts AS (SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat
                FROM documents),
        xyz AS (SELECT doc_id,
                  cos(radians(lat)) * cos(radians(lon)) AS x,
                  cos(radians(lat)) * sin(radians(lon)) AS y,
                  sin(radians(lat)) AS z FROM pts),
        fuv AS (SELECT doc_id,
          CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                    THEN CASE WHEN x < 0 THEN 3 ELSE 0 END
               WHEN abs(y) >= abs(z) THEN CASE WHEN y < 0 THEN 4 ELSE 1 END
               ELSE CASE WHEN z < 0 THEN 5 ELSE 2 END END AS face,
          x, y, z FROM xyz),
        uv AS (SELECT doc_id, face,
          CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                    WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
          CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                    WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
          FROM fuv),
        st AS (SELECT doc_id, face,
          CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u)
               ELSE 1-0.5*sqrt(1-3*u) END AS s,
          CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v)
               ELSE 1-0.5*sqrt(1-3*v) END AS t
          FROM uv),
        start AS (SELECT doc_id, face,
          least(greatest(CAST(floor(s*1073741824) AS BIGINT), 0), 1073741823) AS i,
          least(greatest(CAST(floor(t*1073741824) AS BIGINT), 0), 1073741823) AS j,
          CAST(face AS UBIGINT) << 60 AS n_init,
          face & 1 AS b_init, tbl
          FROM st, lk)
        {"".join(steps)},
        cells AS (
          SELECT doc_id,
            CAST(CASE WHEN pid >= 9223372036854775808
                      THEN CAST(pid AS HUGEINT) - 18446744073709551616
                      ELSE CAST(pid AS HUGEINT) END AS BIGINT) AS cell
          FROM (SELECT doc_id,
                       ((n0 * 2 + 1) & {minus_lsb}) | {new_lsb} AS pid
                FROM s0))
        SELECT cell, count(*) AS n_docs, min(doc_id) AS min_doc
        FROM cells GROUP BY cell
    """




def _dedup_components_oracle() -> str:
    """Transitive closure of the exact n-gram Jaccard pair set (the same
    pair set the engine's MinHash produces — proven equal by the
    minhash_pairs oracle) via a recursive CTE, min-member per component,
    singletons mapping to themselves."""
    return """
        WITH RECURSIVE t AS (
            SELECT doc_id,
                   regexp_split_to_array(
                       trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')),
                       ' ') AS toks
            FROM documents),
        s AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3 THEN
                       list_distinct([array_to_string(toks[i:i+2], ' ')
                                      FOR i IN range(1, len(toks) - 1)])
                   ELSE [array_to_string(toks, ' ')] END AS sh
            FROM t),
        pairs AS (
            SELECT a.doc_id AS left_id, b.doc_id AS right_id
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        edges AS (
            SELECT left_id AS a, right_id AS b FROM pairs
            UNION
            SELECT right_id, left_id FROM pairs),
        reach(id, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS component,
               d.doc_id <> coalesce(c.component, d.doc_id) AS is_duplicate
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """


def _dedup_survivors_oracle() -> str:
    """Same recursive-CTE closure as the components oracle, then the
    keep='longest' survivor: per component, the doc with the longest
    text (ties → min doc_id)."""
    closure = _dedup_components_oracle()
    # reuse everything up to the final SELECT, then re-project with the
    # survivor window
    head = closure.rsplit("SELECT d.doc_id,", 1)[0]
    return head + """,
        grp AS (
            SELECT d.doc_id,
                   coalesce(c.component, d.doc_id) AS component,
                   length(d.text) AS ln
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        surv AS (
            SELECT doc_id, component, ln,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY ln DESC, doc_id ASC) AS rn
            FROM grp)
        SELECT g.doc_id, g.component, s.doc_id AS survivor_id,
               g.doc_id <> s.doc_id AS is_duplicate
        FROM grp g JOIN surv s ON s.component = g.component AND s.rn = 1
    """


def _lanes_roundtrip_oracle() -> str:
    """Independent SQL re-derivation of ``lanes_to_tags`` over the
    published expected lane arrays (mod.rs:139-526): per-lane field lists
    via json extraction, then the same aggregation pipeline the kernel
    runs — motor/bus/bicycle index sets, first/last-motor take_while
    boundaries, oneway consensus, edge shoulder/sidewalk/parking,
    cycleway/busway emission (incl. positional ``cycleway:lanes:<dir>`` /
    ``bus:lanes`` lists and the interior-bike left/right nulling), speed
    consensus with Rust ``{}``-Display float formatting, and the NL
    100 kph motorroad addition. Fuzz-verified against the kernel on 400
    random lane arrays beyond the corpus (tests/test_oracle_parity.py).
    A kernel abort is predicted as the single ``__error__`` row."""
    gold = os.path.join(FIXTURE_DIR, "golden.parquet")
    docs = os.path.join(FIXTURE_DIR, "documents.parquet")
    return f"""WITH g AS (
  SELECT gg.case_id, gg.expected_highway,
         from_json(gg.expected_json, '["json"]') AS lanes,
         dd.driving_side, dd.iso_3166_2
  FROM read_parquet('{gold}') gg
  JOIN read_parquet('{docs}') dd ON dd.doc_id = gg.case_id
), b AS (
  SELECT case_id, expected_highway, driving_side, iso_3166_2, lanes,
         len(lanes) AS nl,
         list_transform(lanes, l -> json_extract_string(l, '$.type')) AS tp,
         list_transform(lanes, l -> json_extract_string(l, '$.direction')) AS dr,
         list_transform(lanes, l -> json_extract_string(l, '$.designated')) AS ds,
         list_transform(lanes, l -> TRY_CAST(json_extract(l, '$.width') AS DOUBLE)) AS wd,
         list_transform(lanes, l -> json_extract_string(l, '$.max_speed[0]')) AS su,
         list_transform(lanes, l -> TRY_CAST(json_extract(l, '$.max_speed[1]') AS DOUBLE)) AS sv
  FROM g
), ix AS (
  SELECT *,
    [i FOR i IN range(1, nl + 1) IF tp[i] = 'travel' AND ds[i] = 'motor_vehicle'] AS motor_i,
    [i FOR i IN range(1, nl + 1) IF tp[i] = 'travel' AND ds[i] IN ('motor_vehicle', 'bus')] AS veh_i,
    [i FOR i IN range(1, nl + 1) IF tp[i] = 'travel' AND ds[i] = 'bus'] AS bus_i,
    [i FOR i IN range(1, nl + 1) IF tp[i] = 'travel' AND ds[i] = 'bicycle'] AS bike_i,
    [i FOR i IN range(1, nl + 1) IF tp[i] = 'travel'] AS travel_i
  FROM b
), sc AS (
  SELECT *,
    len(veh_i) > 0 AS is_road,
    len(veh_i) AS lane_count,
    coalesce(list_min(motor_i), nl + 1) AS fm,
    coalesce(list_max(motor_i), 0) AS lm,
    len([i FOR i IN motor_i IF dr[i] IS DISTINCT FROM 'forward']) = 0 AS oneway,
    len([i FOR i IN veh_i IF dr[i] = 'forward']) AS fwd_ct,
    len([i FOR i IN veh_i IF dr[i] = 'backward']) AS bwd_ct,
    len([i FOR i IN motor_i IF dr[i] = 'both']) > 0 AS both_ways,
    [i FOR i IN range(1, nl + 1) IF tp[i] = 'travel' AND dr[i] = 'forward'
       AND ds[i] IN ('motor_vehicle', 'bus', 'bicycle')] AS seg_f,
    [i FOR i IN range(1, nl + 1) IF tp[i] = 'travel' AND dr[i] = 'backward'
       AND ds[i] IN ('motor_vehicle', 'bus', 'bicycle')] AS seg_b,
    [i FOR i IN travel_i IF su[i] IS NOT NULL] AS spd_i
  FROM ix
), sc2 AS (
  SELECT *,
    list_min([i FOR i IN bike_i IF i < fm]) AS bl0,
    list_max([i FOR i IN bike_i IF i > lm]) AS br0,
    list_min([i FOR i IN bus_i IF i < fm]) AS busl,
    list_max([i FOR i IN bus_i IF i > lm]) AS busr,
    len(spd_i) > 0 AS has_spd,
    len(list_distinct(list_transform(spd_i,
        i -> concat(su[i], ':', CAST(sv[i] AS VARCHAR))))) > 1 AS spd_differ,
    len([i FOR i IN travel_i IF dr[i] IS DISTINCT FROM 'forward']) = 0 AS all_fwd
  FROM sc
), sc3 AS (
  SELECT *,
    len([i FOR i IN seg_f IF ds[i] = 'bicycle'
         AND i IS DISTINCT FROM bl0 AND i IS DISTINCT FROM br0]) > 0 AS int_f,
    len([i FOR i IN seg_b IF ds[i] = 'bicycle'
         AND i IS DISTINCT FROM bl0 AND i IS DISTINCT FROM br0]) > 0 AS int_b
  FROM sc2
), sc4 AS (
  SELECT *,
    CASE WHEN int_b AND list_contains(seg_b, bl0) THEN NULL ELSE bl0 END AS bl,
    CASE WHEN int_f AND list_contains(seg_f, br0) THEN NULL ELSE br0 END AS br,
    CASE WHEN spd_differ OR NOT has_spd THEN NULL
         ELSE spd_i[1] END AS sp1,
    has_spd AND spd_differ AND NOT all_fwd AS has_err
  FROM sc3
), kv AS (
  SELECT case_id,
    CASE WHEN NOT is_road THEN [struct_pack(k := 'highway', v := 'path')]
    WHEN has_err THEN [struct_pack(k := '__error__', v := 'LanesToTagsError')]
    ELSE list_filter([
      struct_pack(k := 'highway', v := expected_highway),
      struct_pack(k := 'lanes', v := CAST(lane_count AS VARCHAR)),
      CASE WHEN oneway THEN struct_pack(k := 'oneway', v := 'yes') END,
      CASE WHEN NOT oneway THEN
        struct_pack(k := 'lanes:forward', v := CAST(fwd_ct AS VARCHAR)) END,
      CASE WHEN NOT oneway THEN
        struct_pack(k := 'lanes:backward', v := CAST(bwd_ct AS VARCHAR)) END,
      CASE WHEN NOT oneway AND both_ways THEN
        struct_pack(k := 'lanes:both_ways', v := '1') END,
      CASE WHEN NOT oneway AND both_ways AND lane_count >= 3 THEN
        struct_pack(k := 'turn:lanes:both_ways',
                    v := CASE WHEN driving_side = 'left' THEN 'right' ELSE 'left' END) END,
      struct_pack(k := 'shoulder', v :=
        CASE WHEN tp[1] = 'shoulder' AND tp[nl] = 'shoulder' THEN 'both'
             WHEN tp[1] = 'shoulder' THEN 'left'
             WHEN tp[nl] = 'shoulder' THEN 'right' ELSE 'no' END),
      struct_pack(k := 'sidewalk', v :=
        CASE WHEN tp[1] = 'travel' AND ds[1] = 'foot'
              AND tp[nl] = 'travel' AND ds[nl] = 'foot' THEN 'both'
             WHEN tp[1] = 'travel' AND ds[1] = 'foot' THEN 'left'
             WHEN tp[nl] = 'travel' AND ds[nl] = 'foot' THEN 'right'
             ELSE 'no' END),
      -- parking (take_while / skip_while over first motor lane)
      CASE WHEN len([i FOR i IN range(1, nl + 1) IF tp[i] = 'parking' AND i < fm]) > 0
            AND len([i FOR i IN range(1, nl + 1) IF tp[i] = 'parking' AND i >= fm]) > 0
           THEN struct_pack(k := 'parking:lane:both', v := 'parallel')
           WHEN len([i FOR i IN range(1, nl + 1) IF tp[i] = 'parking' AND i < fm]) > 0
           THEN struct_pack(k := 'parking:lane:left', v := 'parallel')
           WHEN len([i FOR i IN range(1, nl + 1) IF tp[i] = 'parking' AND i >= fm]) > 0
           THEN struct_pack(k := 'parking:lane:right', v := 'parallel') END,
      CASE WHEN tp[1] = 'separator'
            AND json_extract_string(lanes[1], '$.markings[0].color') = 'red'
           THEN struct_pack(k := 'parking:condition:both', v := 'no_stopping') END,
      -- positional cycleway:lanes for interior bikes (forward ltr, backward reversed ltr)
      CASE WHEN int_f THEN struct_pack(k := 'cycleway:lanes:forward',
        v := array_to_string(list_transform(seg_f,
               i -> CASE WHEN ds[i] = 'bicycle' THEN 'lane' ELSE 'no' END), '|')) END,
      CASE WHEN int_b THEN struct_pack(k := 'cycleway:lanes:backward',
        v := array_to_string(list_transform(list_reverse(seg_b),
               i -> CASE WHEN ds[i] = 'bicycle' THEN 'lane' ELSE 'no' END), '|')) END,
      -- edge cycleways
      CASE WHEN bl IS NOT NULL AND br IS NOT NULL THEN
        struct_pack(k := 'cycleway:both', v := 'lane')
           WHEN bl IS NOT NULL THEN struct_pack(k := 'cycleway:left', v := 'lane')
           WHEN br IS NOT NULL THEN struct_pack(k := 'cycleway:right', v := 'lane') END,
      CASE WHEN oneway AND ((bl IS NOT NULL AND dr[bl] = 'backward')
                         OR (br IS NOT NULL AND dr[br] = 'backward'))
           THEN struct_pack(k := 'oneway:bicycle', v := 'no') END,
      CASE WHEN bl IS NOT NULL AND dr[bl] IS NOT NULL THEN
        struct_pack(k := 'cycleway:left:oneway', v :=
          CASE dr[bl] WHEN 'forward' THEN 'yes' WHEN 'backward' THEN '-1' ELSE 'no' END) END,
      CASE WHEN br IS NOT NULL AND dr[br] IS NOT NULL THEN
        struct_pack(k := 'cycleway:right:oneway', v :=
          CASE dr[br] WHEN 'forward' THEN 'yes' WHEN 'backward' THEN '-1' ELSE 'no' END) END,
      CASE WHEN bl IS NOT NULL AND wd[bl] IS NOT NULL THEN
        struct_pack(k := 'cycleway:left:width', v :=
          CASE WHEN wd[bl] = floor(wd[bl])
               THEN CAST(CAST(wd[bl] AS BIGINT) AS VARCHAR)
               ELSE CAST(wd[bl] AS VARCHAR) END) END,
      CASE WHEN br IS NOT NULL AND wd[br] IS NOT NULL THEN
        struct_pack(k := 'cycleway:right:width', v :=
          CASE WHEN wd[br] = floor(wd[br])
               THEN CAST(CAST(wd[br] AS BIGINT) AS VARCHAR)
               ELSE CAST(wd[br] AS VARCHAR) END) END,
      -- shared-lane marker (single-lane oneway with bidirectional bike access)
      CASE WHEN nl = 1 AND oneway AND tp[1] = 'travel'
            AND json_extract_string(lanes[1], '$.access.bicycle.access') = 'yes'
            AND json_extract_string(lanes[1], '$.access.bicycle.direction') = 'both'
           THEN struct_pack(k := 'cycleway', v := 'opposite') END,
      -- busway
      CASE WHEN busl IS NULL AND busr IS NULL AND len(bus_i) > 0 THEN
        struct_pack(k := 'bus:lanes', v := array_to_string(list_transform(veh_i,
          i -> CASE WHEN ds[i] = 'bus' THEN 'designated' ELSE '' END), '|'))
           WHEN busl IS NOT NULL AND busr IS NOT NULL THEN
        struct_pack(k := 'busway:both', v := 'lane')
           WHEN busl IS NOT NULL THEN
        struct_pack(k := 'busway:left', v :=
          CASE WHEN oneway AND dr[busl] = 'backward' THEN 'opposite_lane' ELSE 'lane' END)
           WHEN busr IS NOT NULL THEN
        struct_pack(k := 'busway:right', v :=
          CASE WHEN oneway AND dr[busr] = 'backward' THEN 'opposite_lane' ELSE 'lane' END) END,
      -- max speed consensus / per-lane list / error
      CASE WHEN has_spd AND NOT spd_differ THEN
        struct_pack(k := 'maxspeed', v :=
          CASE WHEN su[sp1] = 'kph' THEN
            CASE WHEN sv[sp1] = floor(sv[sp1])
                 THEN CAST(CAST(sv[sp1] AS BIGINT) AS VARCHAR)
                 ELSE CAST(sv[sp1] AS VARCHAR) END
          ELSE concat(
            CASE WHEN sv[sp1] = floor(sv[sp1])
                 THEN CAST(CAST(sv[sp1] AS BIGINT) AS VARCHAR)
                 ELSE CAST(sv[sp1] AS VARCHAR) END, ' ', su[sp1]) END) END,
      CASE WHEN has_spd AND spd_differ AND all_fwd THEN
        struct_pack(k := 'maxspeed:lanes', v := array_to_string(list_transform(travel_i,
          i -> CASE WHEN su[i] IS NULL THEN ''
                    WHEN su[i] = 'kph' THEN
                      CASE WHEN sv[i] = floor(sv[i])
                           THEN CAST(CAST(sv[i] AS BIGINT) AS VARCHAR)
                           ELSE CAST(sv[i] AS VARCHAR) END
                    ELSE concat(
                      CASE WHEN sv[i] = floor(sv[i])
                           THEN CAST(CAST(sv[i] AS BIGINT) AS VARCHAR)
                           ELSE CAST(sv[i] AS VARCHAR) END, ' ', su[i]) END), '|')) END,
      -- NL locale addition
      CASE WHEN has_spd AND NOT spd_differ AND su[sp1] = 'kph' AND sv[sp1] = 100.0
            AND split_part(coalesce(iso_3166_2, ''), '-', 1) = 'NL'
           THEN struct_pack(k := 'motorroad', v := 'yes') END
    ], x -> x IS NOT NULL) END AS kvs
  FROM sc4
)
SELECT case_id, u.k AS tag_key, u.v AS tag_value
FROM (SELECT case_id, unnest(kvs) AS u FROM kv)
"""

def _lanes_golden_oracle() -> str:
    """The reference's expected corpus (tests.yml → golden.parquet)
    replayed in DuckDB json functions — one scalar row per expected lane,
    mirroring _q_lanes_golden's eq_exp masking exactly: separators dropped
    (and lanes reindexed) unless the case both includes and expects them;
    optional fields emitted as stored (absent → NULL, matching the masked
    Spark side); markings/access as the same deterministic fingerprints.
    The only logic here is mechanical JSON reshaping; every VALUE comes
    from the published fixture, so this is an independent replay of what
    the kernel must produce, not a re-implementation of it."""
    golden = os.path.join(FIXTURE_DIR, "golden.parquet")
    modes = ("foot", "bicycle", "taxi", "bus", "motor")
    access_parts = ",\n             ".join(
        f"concat(coalesce(json_extract_string(z.lane,'$.access.{m}.access'),''),"
        f" '/', coalesce(json_extract_string(z.lane,'$.access.{m}.direction'),''))"
        for m in modes)
    return f"""
        WITH g AS (
          SELECT case_id, expected_json, expect_warnings,
                 include_separators AND len(list_filter(
                     from_json(expected_json, '["json"]'),
                     l -> json_extract_string(l, '$.type') = 'separator')) > 0
                 AS keep_seps
          FROM read_parquet('{golden}')
        ), exploded AS (
          SELECT case_id, expect_warnings, keep_seps,
                 unnest(list_transform(from_json(expected_json, '["json"]'),
                                       (l, i) -> struct_pack(lane := l, idx := i))) AS z
          FROM g
        ), kept AS (
          SELECT case_id, expect_warnings, z,
                 json_extract_string(z.lane, '$.type') AS lane_type,
                 CAST(row_number() OVER (PARTITION BY case_id ORDER BY z.idx)
                      - 1 AS INT) AS lane_idx
          FROM exploded
          WHERE json_extract_string(z.lane, '$.type') <> 'separator' OR keep_seps
        )
        SELECT case_id, lane_idx, lane_type,
          CASE WHEN lane_type IN ('travel', 'parking')
               THEN json_extract_string(z.lane, '$.direction') END AS direction,
          CASE WHEN lane_type IN ('travel', 'parking')
               THEN json_extract_string(z.lane, '$.designated') END AS designated,
          CASE WHEN lane_type IN ('travel', 'parking', 'shoulder')
               THEN CAST(json_extract(z.lane, '$.width') AS DOUBLE) END AS width,
          CASE WHEN lane_type = 'travel'
               THEN json_extract_string(z.lane, '$.max_speed[0]') END AS speed_unit,
          CASE WHEN lane_type = 'travel'
               THEN CAST(json_extract(z.lane, '$.max_speed[1]') AS DOUBLE) END AS speed_value,
          CASE WHEN lane_type = 'separator'
               THEN json_extract_string(z.lane, '$.semantic') END AS semantic,
          CASE WHEN lane_type = 'separator'
                AND json_extract(z.lane, '$.markings') IS NOT NULL
               THEN array_to_string(list_transform(
                      from_json(json_extract(z.lane, '$.markings'), '["json"]'),
                      m -> concat(
                        coalesce(json_extract_string(m, '$.style'), ''), ':',
                        coalesce(json_extract_string(m, '$.color'), ''), ':',
                        coalesce(CAST(CAST(round(CAST(json_extract(m, '$.width') AS DOUBLE) * 1000) AS BIGINT) AS VARCHAR), ''))), '|')
          END AS markings_sig,
          CASE WHEN lane_type = 'travel'
                AND json_extract(z.lane, '$.access') IS NOT NULL
               THEN concat_ws('|',
             {access_parts})
          END AS access_sig,
          expect_warnings AS has_warnings
        FROM kept
    """


def _pagerank_oracle(iterations: int = 5, scale: int = 10 ** 12,
                     num: int = 17, den: int = 20) -> str:
    """Unrolled-CTE replay of operators/graph.py:pagerank — the same
    scaled-BIGINT recurrence, one CTE per iteration, so every register
    of the fixpoint matches Spark bit-for-bit (integer ops only; both
    engines truncate non-negative division identically)."""
    ctes = [
        """edges AS (
             SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src)",
        "params AS (SELECT count(*) AS n FROM nodes)",
        f"""r0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS rank
             FROM nodes CROSS JOIN params)""",
    ]
    base = f"(({scale * (den - num)} // {den}) // p.n)"
    for k in range(1, iterations + 1):
        prev = f"r{k - 1}"
        ctes.append(f"""r{k} AS (
             SELECT nd.node,
                    CAST({base} + ({num} * (COALESCE(i.s, 0) + d.share))
                         // {den} AS BIGINT) AS rank
             FROM nodes nd
             CROSS JOIN params p
             LEFT JOIN (SELECT e.dst AS node, sum(r.rank // g.outdeg) AS s
                        FROM edges e
                        JOIN {prev} r ON e.src = r.node
                        JOIN deg g ON g.node = e.src
                        GROUP BY e.dst) i ON i.node = nd.node
             CROSS JOIN (SELECT COALESCE(sum(r.rank), 0)
                                // (SELECT n FROM params) AS share
                         FROM {prev} r LEFT JOIN deg g ON g.node = r.node
                         WHERE g.node IS NULL) d)""")
    return ("WITH " + ",\n        ".join(ctes) + f"""
        SELECT CAST((node - 1) // 2 AS BIGINT) AS s_suppkey,
               CAST(rank AS BIGINT) AS rank_scaled
        FROM r{iterations}
        WHERE node % 2 = 1
        ORDER BY rank_scaled DESC, s_suppkey ASC
        LIMIT 15
    """)


def _sssp_oracle(max_hops: int = 4) -> str:
    """Unrolled Bellman-Ford relaxation (the pagerank chained-CTE idiom)
    over the bidirectional customer↔supplier cents-weight graph."""
    w = "CAST(round(l_extendedprice * 100.0) AS BIGINT)"
    parts = [f"""e AS (
        SELECT src, dst, min(w) AS w FROM (
            SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst, {w} AS w
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            UNION ALL
            SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst, {w} AS w
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey) b
        GROUP BY src, dst)""",
             """d0 AS (
        SELECT min(c_custkey) * 2 AS node, CAST(0 AS BIGINT) AS dist
        FROM customer)"""]
    for k in range(1, max_hops + 1):
        parts.append(f"""d{k} AS (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d{k - 1}
            UNION ALL
            SELECT e.dst AS node, d{k - 1}.dist + e.w AS dist
            FROM d{k - 1} JOIN e ON d{k - 1}.node = e.src) x
        GROUP BY node)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, dist FROM d{max_hops}")


def oracle_sql() -> dict[str, str]:
    from osm2lanes_spark.spatial.geohash import geohash_oracle_cte
    from osm2lanes_spark.spatial.joins import HAVERSINE_SQL

    from osm2lanes_spark.spatial.interpolate import idw_oracle_sql

    _hav_ab = HAVERSINE_SQL.format(lon1="a.lon", lat1="a.lat",
                                   lon2="b.lon", lat2="b.lat")
    _geohash_cte = geohash_oracle_cte("documents", _LON_SQL, _LAT_SQL,
                                      3, "doc_id")
    # dbscan CTE chain shared by dbscan_clusters and cluster_stats:
    # brute-force eps-graph, degree cores, recursive reachability closure
    # over core-core edges, min-label clusters, min-rule borders
    _dbscan_cte = f"""
            pts AS (
                SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat
                FROM documents),
            nbrs AS (
                SELECT a.doc_id AS a, b.doc_id AS b
                FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
                WHERE {_hav_ab} <= 800.0),
            cores AS (
                SELECT a AS id FROM nbrs GROUP BY a
                HAVING count(*) + 1 >= 3),
            core_edges AS (
                SELECT n.a, n.b FROM nbrs n
                JOIN cores ca ON n.a = ca.id
                JOIN cores cb ON n.b = cb.id),
            r(src, node) AS (
                SELECT id, id FROM cores
                UNION
                SELECT r.src, e.b FROM r JOIN core_edges e
                ON r.node = e.a),
            core_lab AS (
                SELECT src AS doc_id, min(node) AS cluster_id,
                       TRUE AS is_core
                FROM r GROUP BY src),
            border AS (
                SELECT n.a AS doc_id, min(cl.cluster_id) AS cluster_id,
                       FALSE AS is_core
                FROM nbrs n JOIN core_lab cl ON n.b = cl.doc_id
                WHERE n.a NOT IN (SELECT id FROM cores)
                GROUP BY n.a),
            lab AS (
                SELECT doc_id, cluster_id, is_core FROM core_lab
                UNION ALL
                SELECT doc_id, cluster_id, is_core FROM border)"""
    out = {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "region_revenue": """
            SELECT r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "event_ranks": """
            SELECT user_id, event_id, rn FROM (
                SELECT user_id, event_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts ASC, event_id ASC) AS rn
                FROM events) t
            WHERE rn <= 3
        """,
        "events_props": """
            -- CAST the sum: DuckDB sum(BIGINT) yields HUGEINT (-> float64 in
            -- pandas) while Spark's sum(bigint) stays int64; value-equal but
            -- type-unequal hashes (VERDICT r01 What's-wrong #1)
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
                   max(value) AS max_value
            FROM events GROUP BY event_type
        """,
        "grid_binning": f"""
            SELECT ({_GY_SQL}) * 256 + ({_GX_SQL}) AS cell,
                   count(*) AS n_docs, min(doc_id) AS min_doc
            FROM documents GROUP BY 1
        """,
        "knn": f"""
            WITH pts AS (
                SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM documents)
            SELECT query_id, neighbor_id FROM (
                SELECT q.doc_id AS query_id, s.doc_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.doc_id
                           ORDER BY (q.lon - s.lon) * (q.lon - s.lon)
                                  + (q.lat - s.lat) * (q.lat - s.lat) ASC,
                                    s.doc_id ASC) AS rn
                FROM pts q JOIN pts s ON s.doc_id <> q.doc_id
                WHERE q.doc_id < 30) t
            WHERE rn = 1
        """,
        "knn3": f"""
            WITH pts AS (
                SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM documents)
            SELECT query_id, neighbor_id, rank FROM (
                SELECT q.doc_id AS query_id, s.doc_id AS neighbor_id,
                       CAST(row_number() OVER (
                           PARTITION BY q.doc_id
                           ORDER BY (q.lon - s.lon) * (q.lon - s.lon)
                                  + (q.lat - s.lat) * (q.lat - s.lat) ASC,
                                    s.doc_id ASC) AS INTEGER) AS rank
                FROM pts q JOIN pts s ON s.doc_id <> q.doc_id
                WHERE q.doc_id < 30) t
            WHERE rank <= 3
        """,
        "geohash_binning": f"""
            -- full bit-level replay of the geohash encoder (see
            -- spatial/geohash.py geohash_oracle_cte)
            WITH {_geohash_cte}
            SELECT geohash, count(*) AS n_docs, min(doc_id) AS min_doc
            FROM gh GROUP BY geohash
        """,
        "dbscan_clusters": f"""
            WITH RECURSIVE {_dbscan_cte}
            SELECT doc_id, cluster_id, is_core FROM lab
        """,
        "cluster_stats": f"""
            -- dbscan replay + per-cluster zonal roll-up with the same
            -- quantized integer centroid sums as cluster_stats()
            WITH RECURSIVE {_dbscan_cte}
            SELECT cluster_id, count(*) AS n_points,
                   CAST(sum(CAST(is_core AS BIGINT)) AS BIGINT)
                       AS n_core,
                   min(lon) AS min_lon, max(lon) AS max_lon,
                   min(lat) AS min_lat, max(lat) AS max_lat,
                   round(CAST(sum(CAST(round(lon * 1000000.0) AS BIGINT))
                              AS DOUBLE)
                         / CAST(count(*) AS DOUBLE)
                         / 1000000.0, 6) AS ctr_lon,
                   round(CAST(sum(CAST(round(lat * 1000000.0) AS BIGINT))
                              AS DOUBLE)
                         / CAST(count(*) AS DOUBLE)
                         / 1000000.0, 6) AS ctr_lat
            FROM lab JOIN pts USING (doc_id)
            GROUP BY cluster_id
        """,
        "idw_events": idw_oracle_sql(
            f"SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat"
            " FROM documents",
            f"SELECT {_ELON} AS lon, {_ELAT} AS lat, value FROM events",
            300.0,
            HAVERSINE_SQL.format(lon1="p.lon", lat1="p.lat",
                                 lon2="s.lon", lat2="s.lat"),
            id_col="doc_id"),
        "trajectories": f"""
            -- window replay of trajectory_summary: identical haversine,
            -- identical integer step quantization (D_SCALE = 1e6)
            WITH t AS (
                SELECT user_id, ts, event_id,
                       {_ELON} AS lon, {_ELAT} AS lat
                FROM events),
            s AS (
                SELECT user_id, lon, lat,
                       lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
                       first_value(lon) OVER wf AS flon,
                       first_value(lat) OVER wf AS flat,
                       last_value(lon) OVER wf AS llon,
                       last_value(lat) OVER wf AS llat
                FROM t
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                       wf AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)),
            q AS (
                SELECT user_id, flon, flat, llon, llat,
                       COALESCE(CAST(round(
                           ({HAVERSINE_SQL.format(
                               lon1='plon', lat1='plat',
                               lon2='lon', lat2='lat')})
                           * 1000000.0) AS BIGINT), 0) AS stepq
                FROM s),
            agg AS (
                SELECT user_id, count(*) AS n_points,
                       round(CAST(sum(stepq) AS DOUBLE) / 1000000.0, 6)
                           AS path_km,
                       round({HAVERSINE_SQL.format(
                           lon1='min(flon)', lat1='min(flat)',
                           lon2='min(llon)', lat2='min(llat)')}, 6)
                           AS net_km
                FROM q GROUP BY user_id)
            SELECT user_id, n_points, path_km, net_km,
                   CASE WHEN path_km > 0
                        THEN round(net_km / path_km, 6)
                        ELSE 1.0 END AS straightness
            FROM agg
        """,
        "distance_pairs": f"""
            -- brute-force replay of the grid-accelerated distance join:
            -- identical fixed-op-order haversine (see HAVERSINE_SQL)
            WITH pts AS (
                SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat
                FROM documents)
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   round({_hav_ab}, 3) AS dist_km
            FROM pts a JOIN pts b ON a.doc_id < b.doc_id
            WHERE {_hav_ab} <= 800.0
        """,
        "sssp_costs": _sssp_oracle(4),
        "triangles": """
            -- a<b<c orientation: each triangle joined exactly once
            WITH pl AS (
                SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
            e AS (
                SELECT DISTINCT x.p AS a, y.p AS b
                FROM pl x JOIN pl y ON x.o = y.o AND x.p < y.p),
            t AS (
                SELECT e1.a, e1.b, e2.b AS c
                FROM e e1
                JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
            SELECT a, count(*) AS n_triangles FROM t GROUP BY a
        """,
        "raster_focal": f"""
            -- scatter replay: every populated cell contributes to its
            -- 3x3 targets (edge-clipped), one regroup on the target
            WITH r AS (
                SELECT x, y, CAST(sum(vq) AS BIGINT) AS value FROM (
                    SELECT {_EGX_SQL} AS x, {_EGY_SQL} AS y,
                           CAST(round(value * 1000000.0) AS BIGINT) AS vq
                    FROM events) src
                GROUP BY x, y),
            o(d) AS (VALUES (-1), (0), (1)),
            t AS (
                SELECT r.x + ox.d AS x, r.y + oy.d AS y, r.value
                FROM r, o ox, o oy
                WHERE r.x + ox.d BETWEEN 0 AND 255
                  AND r.y + oy.d BETWEEN 0 AND 255)
            SELECT x, y, CAST(sum(value) AS BIGINT) AS focal,
                   count(*) AS n_nbrs
            FROM t GROUP BY x, y
        """,
        "raster_peaks": f"""
            -- strict non-max suppression vs populated 3x3 neighbors
            WITH r AS (
                SELECT x, y, CAST(sum(vq) AS BIGINT) AS value FROM (
                    SELECT {_EGX_SQL} AS x, {_EGY_SQL} AS y,
                           CAST(round(value * 1000000.0) AS BIGINT) AS vq
                    FROM events) src
                GROUP BY x, y),
            o(d) AS (VALUES (-1), (0), (1)),
            nbr AS (
                SELECT r.x + ox.d AS x, r.y + oy.d AS y,
                       max(r.value) AS nbr_max
                FROM r, o ox, o oy
                WHERE NOT (ox.d = 0 AND oy.d = 0)
                  AND r.x + ox.d BETWEEN 0 AND 255
                  AND r.y + oy.d BETWEEN 0 AND 255
                GROUP BY 1, 2)
            SELECT r.x, r.y, r.value
            FROM r LEFT JOIN nbr ON r.x = nbr.x AND r.y = nbr.y
            WHERE nbr.nbr_max IS NULL OR r.value > nbr.nbr_max
        """,
        "tile_pyramid": f"""
            -- one-pass pyramid: per level = integer division by its span
            WITH base AS (
                SELECT {_EGX_SQL} AS x, {_EGY_SQL} AS y,
                       CAST(round(value * 1000000.0) AS BIGINT) AS vq
                FROM events),
            lv(level, span) AS (VALUES (2, 64), (4, 16), (6, 4), (8, 1))
            SELECT CAST(lv.level AS BIGINT) AS level,
                   CAST(base.x // lv.span AS BIGINT) AS px,
                   CAST(base.y // lv.span AS BIGINT) AS py,
                   count(*) AS n_events,
                   CAST(sum(vq) AS BIGINT) AS value
            FROM base, lv
            GROUP BY 1, 2, 3
        """,
        "zonal": f"""
            WITH raster AS (
                SELECT ({_EGY_SQL}) * 256 + ({_EGX_SQL}) AS cell,
                       max(value) AS rval
                FROM events GROUP BY 1),
            pts AS (
                SELECT doc_id, ({_GY_SQL}) * 256 + ({_GX_SQL}) AS cell
                FROM documents)
            SELECT doc_id, max(rval) AS zonal_max
            FROM pts JOIN raster USING (cell)
            GROUP BY doc_id
        """,
        "dedup_exact": """
            SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS fingerprint,
                   count(*) AS n_docs, min(doc_id) AS survivor_id
            FROM documents GROUP BY 1
        """,
        "token_stats": """
            SELECT doc_id,
                   CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0
                        ELSE len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'))
                   END AS n_tokens
            FROM documents
        """,
        "text_quality": """
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+')) AS n_tokens,
                   round(len(regexp_extract_all(text, '[^\\w \\t\\n\\r\\f\\x0B]')) * 1.0 / length(text), 6) AS punct_ratio,
                   round(len(regexp_extract_all(text, '[A-Z]')) * 1.0 / length(text), 6) AS upper_ratio,
                   round(length(text) * 1.0 / len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+')), 6) AS mean_token_len
            FROM documents
        """,
        "ngram_jaccard": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')),
                           ' ') AS toks
                FROM documents),
            s AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3 THEN
                           list_distinct([array_to_string(toks[i:i+2], ' ')
                                          FOR i IN range(1, len(toks) - 1)])
                       ELSE [array_to_string(toks, ' ')] END AS sh
                FROM t)
            SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                   round(len(list_intersect(a.sh, b.sh)) * 1.0
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        """,
        "top_suppliers": """
            SELECT s_suppkey, s_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_suppkey, s_name
            ORDER BY revenue DESC, s_suppkey ASC
            LIMIT 10
        """,
        "customer_set_ops": """
            SELECT custkey FROM (
                SELECT DISTINCT o_custkey AS custkey FROM orders
                EXCEPT
                SELECT DISTINCT o_custkey AS custkey FROM orders
                WHERE o_totalprice > 200000) t
        """,
        "promo_revenue": """
            SELECT p_brand,
                   round(sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END), 2) AS promo_rev,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= '1995-09-01' AND l_shipdate < '1995-10-01'
            GROUP BY p_brand
        """,
        "hash_split": """
            -- the same md5-derived uniform as operators/sampling.py
            -- DuckDB 1.0 has no strtol: hex -> int via strpos arithmetic
            WITH h AS (
                SELECT source, n_chars,
                       md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
            u AS (
                SELECT source, n_chars,
                       ((strpos('0123456789abcdef', substring(m, 1, 1)) - 1) * 268435456.0
                      + (strpos('0123456789abcdef', substring(m, 2, 1)) - 1) * 16777216.0
                      + (strpos('0123456789abcdef', substring(m, 3, 1)) - 1) * 1048576.0
                      + (strpos('0123456789abcdef', substring(m, 4, 1)) - 1) * 65536.0
                      + (strpos('0123456789abcdef', substring(m, 5, 1)) - 1) * 4096.0
                      + (strpos('0123456789abcdef', substring(m, 6, 1)) - 1) * 256.0
                      + (strpos('0123456789abcdef', substring(m, 7, 1)) - 1) * 16.0
                      + (strpos('0123456789abcdef', substring(m, 8, 1)) - 1) * 1.0)
                       / 4294967296.0 AS r
                FROM h)
            SELECT source,
                   CASE WHEN r < 0.8 THEN 'train'
                        WHEN r < 0.9 THEN 'val' ELSE 'test' END AS split,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM u GROUP BY 1, 2
        """,
        "mixture_sample": """
            -- operators/sampling.py mixture_sample: the seeded
            -- md5-uniform (doc_id || ':7'), per-source rate CASE,
            -- floor(rate) + Bernoulli(frac) copies via unnest(range(n))
            -- (range(0) = [] drops the row, mirroring the empty-array
            -- explode)
            WITH h AS (
                SELECT doc_id, source,
                       md5(CAST(doc_id AS VARCHAR) || ':7') AS m
                FROM documents),
            u AS (
                SELECT doc_id, source,
                       ((strpos('0123456789abcdef', substring(m, 1, 1)) - 1) * 268435456.0
                      + (strpos('0123456789abcdef', substring(m, 2, 1)) - 1) * 16777216.0
                      + (strpos('0123456789abcdef', substring(m, 3, 1)) - 1) * 1048576.0
                      + (strpos('0123456789abcdef', substring(m, 4, 1)) - 1) * 65536.0
                      + (strpos('0123456789abcdef', substring(m, 5, 1)) - 1) * 4096.0
                      + (strpos('0123456789abcdef', substring(m, 6, 1)) - 1) * 256.0
                      + (strpos('0123456789abcdef', substring(m, 7, 1)) - 1) * 16.0
                      + (strpos('0123456789abcdef', substring(m, 8, 1)) - 1) * 1.0)
                       / 4294967296.0 AS r
                FROM h),
            c AS (
                SELECT doc_id, source, r,
                       CASE source WHEN 'src0' THEN 2.25
                                   WHEN 'src1' THEN 0.5
                                   WHEN 'src2' THEN 0.0
                                   WHEN 'src3' THEN 1.75
                                   ELSE 1.0 END AS rate
                FROM u),
            e AS (
                SELECT doc_id, source,
                       unnest(range(CAST(FLOOR(rate) AS BIGINT)
                                    + CASE WHEN r < rate - FLOOR(rate)
                                           THEN 1 ELSE 0 END)) AS mix_copy
                FROM c)
            SELECT source,
                   count(*) AS rows_out,
                   count(DISTINCT doc_id) AS docs_kept,
                   CAST(sum(mix_copy) AS BIGINT) AS copy_sum
            FROM e GROUP BY source ORDER BY source
        """,
        "stratified_sample": """
            -- operators/sampling.py stratified_sample: seeded
            -- md5-uniform rank within each source, first 7 win
            WITH h AS (
                SELECT source, doc_id, n_chars,
                       md5(CAST(doc_id AS VARCHAR) || ':3') AS m
                FROM documents),
            u AS (
                SELECT source, doc_id, n_chars,
                       ((strpos('0123456789abcdef', substring(m, 1, 1)) - 1) * 268435456.0
                      + (strpos('0123456789abcdef', substring(m, 2, 1)) - 1) * 16777216.0
                      + (strpos('0123456789abcdef', substring(m, 3, 1)) - 1) * 1048576.0
                      + (strpos('0123456789abcdef', substring(m, 4, 1)) - 1) * 65536.0
                      + (strpos('0123456789abcdef', substring(m, 5, 1)) - 1) * 4096.0
                      + (strpos('0123456789abcdef', substring(m, 6, 1)) - 1) * 256.0
                      + (strpos('0123456789abcdef', substring(m, 7, 1)) - 1) * 16.0
                      + (strpos('0123456789abcdef', substring(m, 8, 1)) - 1) * 1.0)
                       / 4294967296.0 AS r
                FROM h)
            SELECT source, doc_id, n_chars FROM u
            QUALIFY row_number() OVER (PARTITION BY source
                                       ORDER BY r, doc_id) <= 7
            ORDER BY source, doc_id
        """,
        "doc_packing": """
            WITH tok AS (
                SELECT doc_id, source,
                       CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0
                            ELSE len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'))
                       END AS n_tokens
                FROM documents),
            packed AS (
                SELECT source,
                       CAST(floor((sum(n_tokens) OVER (
                                PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n_tokens)
                            / 2048.0) AS BIGINT) AS pack_id,
                       n_tokens
                FROM tok)
            SELECT source, pack_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
            FROM packed GROUP BY source, pack_id
        """,
        # the strict greedy recurrence (new pack when fill + tokens would
        # exceed the budget) replayed exactly: one recursive-CTE step per
        # row rank, all sources advancing in parallel per iteration
        "doc_packing_exact": """
            WITH RECURSIVE tok AS (
                SELECT doc_id, source,
                       CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0
                            ELSE len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'))
                       END AS n_tokens,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM documents),
            walk AS (
                SELECT source, rn, doc_id, n_tokens,
                       CAST(0 AS BIGINT) AS pack_id,
                       CAST(n_tokens AS BIGINT) AS fill
                FROM tok WHERE rn = 1
                UNION ALL
                SELECT t.source, t.rn, t.doc_id, t.n_tokens,
                       CASE WHEN w.fill > 0 AND w.fill + t.n_tokens > 2048
                            THEN w.pack_id + 1 ELSE w.pack_id END,
                       CASE WHEN w.fill > 0 AND w.fill + t.n_tokens > 2048
                            THEN CAST(t.n_tokens AS BIGINT)
                            ELSE w.fill + t.n_tokens END
                FROM walk w JOIN tok t
                  ON t.source = w.source AND t.rn = w.rn + 1)
            SELECT source, pack_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
            FROM walk GROUP BY source, pack_id
        """,
        # the same greedy replay without a partition: one global chain in
        # doc_id order (legal in the engine since the r05 distributed
        # boundary chase — the sequential-per-key packer had to refuse
        # part_col=None)
        "doc_packing_exact_global": """
            WITH RECURSIVE tok AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0
                            ELSE len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'))
                       END AS n_tokens,
                       row_number() OVER (ORDER BY doc_id) AS rn
                FROM documents),
            walk AS (
                SELECT rn, n_tokens,
                       CAST(0 AS BIGINT) AS pack_id,
                       CAST(n_tokens AS BIGINT) AS fill
                FROM tok WHERE rn = 1
                UNION ALL
                SELECT t.rn, t.n_tokens,
                       CASE WHEN w.fill > 0 AND w.fill + t.n_tokens > 4096
                            THEN w.pack_id + 1 ELSE w.pack_id END,
                       CASE WHEN w.fill > 0 AND w.fill + t.n_tokens > 4096
                            THEN CAST(t.n_tokens AS BIGINT)
                            ELSE w.fill + t.n_tokens END
                FROM walk w JOIN tok t ON t.rn = w.rn + 1)
            SELECT pack_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
            FROM walk GROUP BY pack_id
        """,
        "label_centroids": """
            -- DuckDB 1.0 range() is constants-only: unnest value and
            -- subscript lists side by side (they align positionally)
            SELECT label, pos, round(avg(v), 6) AS mean, count(*) AS n
            FROM (
                SELECT label,
                       CAST(unnest(range(0, len(embedding))) AS INT) AS pos,
                       unnest(embedding::DOUBLE[]) AS v
                FROM embeddings) u
            GROUP BY label, pos
        """,
        "ship_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < '1997-03-15'
              AND l_shipdate > '1997-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "repetition_stats": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+')) AS tok
                FROM documents),
            per_tok AS (
                SELECT doc_id, tok, count(*) AS c
                FROM toks GROUP BY doc_id, tok)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   round(count(*) * 1.0 / sum(c), 6) AS distinct_ratio,
                   round(max(c) * 1.0 / sum(c), 6) AS top_token_ratio
            FROM per_tok GROUP BY doc_id
        """,
        "ngram_topk": """
            -- operators/profiling.py ngram_top_k: sliding lowercased
            -- word bigrams, exact counts, top-20 with the same total
            -- tie-break order (count desc, ngram asc)
            WITH t AS (
                SELECT CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE list_transform(
                                regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'),
                                x -> lower(x))
                       END AS toks
                FROM documents),
            g AS (
                SELECT unnest(
                    CASE WHEN len(toks) >= 2
                         THEN list_transform(range(1, len(toks) - 2 + 2),
                                  i -> array_to_string(toks[i:i+1], ' '))
                         ELSE CAST([] AS VARCHAR[]) END) AS ngram
                FROM t)
            SELECT ngram, count(*) AS n FROM g
            GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20
        """,
        "contamination": """
            -- operators/profiling.py ngram_overlap: distinct-3-gram
            -- overlap of every corpus doc (doc_id % 97 != 0) against
            -- the eval set (doc_id % 97 == 0)
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE list_transform(
                                regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'),
                                x -> lower(x))
                       END AS toks
                FROM documents),
            g3 AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct(list_transform(
                                range(1, len(toks) - 1),
                                i -> array_to_string(toks[i:i+2], ' ')))
                            ELSE CAST([] AS VARCHAR[]) END AS grams
                FROM t),
            corpus AS (
                SELECT doc_id, unnest(grams) AS gram
                FROM g3 WHERE doc_id % 97 <> 0),
            ref AS (
                SELECT DISTINCT unnest(grams) AS gram
                FROM g3 WHERE doc_id % 97 = 0),
            stats AS (
                SELECT c.doc_id, count(*) AS n_ngrams,
                       count(r.gram) AS n_contaminated
                FROM corpus c LEFT JOIN ref r ON c.gram = r.gram
                GROUP BY c.doc_id)
            SELECT d.doc_id,
                   coalesce(s.n_ngrams, 0) AS n_ngrams,
                   coalesce(s.n_contaminated, 0) AS n_contaminated,
                   CASE WHEN coalesce(s.n_ngrams, 0) > 0
                        THEN round(s.n_contaminated * 1.0 / s.n_ngrams, 6)
                   END AS contamination_ratio
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
            LEFT JOIN stats s ON d.doc_id = s.doc_id
        """,
        "pii_redact": """
            -- operators/text.py with_redactions replay: plant a
            -- deterministic email+URL on doc_id % 7 == 0, count URL
            -- first (so an address inside a URL counts once), then
            -- email on the URL-redacted text; fingerprint the final
            -- string
            WITH planted AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' contact user'
                                 || CAST(doc_id AS VARCHAR)
                                 || '@example.com via https://ex.org/d/'
                                 || CAST(doc_id AS VARCHAR)
                            ELSE text END AS text
                FROM documents),
            step1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(text, 'https?://[^ \\t\\n\\r\\f\\x0B]+'))
                           AS n_url,
                       regexp_replace(text, 'https?://[^ \\t\\n\\r\\f\\x0B]+', '<URL>', 'g')
                           AS t1
                FROM planted),
            step2 AS (
                SELECT doc_id, n_url,
                       len(regexp_extract_all(t1,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                           AS n_email,
                       regexp_replace(t1,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g') AS redacted
                FROM step1)
            SELECT doc_id, n_url, n_email, md5(redacted) AS fingerprint
            FROM step2
        """,
        "packed_texts": """
            -- operators/packing.py pack_texts replay: offset pack ids,
            -- then string_agg in doc order per (source, pack)
            WITH tok AS (
                SELECT doc_id, source, text,
                       CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0
                            ELSE len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'))
                       END AS n_tokens
                FROM documents),
            packed AS (
                SELECT doc_id, source, text,
                       CAST(floor((sum(n_tokens) OVER (
                                PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n_tokens)
                            / 2048.0) AS BIGINT) AS pack_id
                FROM tok)
            -- ORDER BY doc_id, text: the operator's struct sort breaks
            -- duplicate order keys by the text itself (doc_id is unique
            -- here, but the replay must match the full contract)
            SELECT source, pack_id, count(*) AS n_docs,
                   md5(string_agg(text, ' ' ORDER BY doc_id, text))
                       AS fingerprint
            FROM packed GROUP BY source, pack_id
        """,
        "doc_chunks": """
            -- operators/packing.py chunk_documents replay: 64-token
            -- chunks, stride 56 (overlap 8), inclusive 1-based list
            -- slicing; md5 pins the exact chunk strings
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+')
                       END AS toks
                FROM documents),
            n AS (
                SELECT doc_id, toks,
                       CASE WHEN len(toks) <= 0 THEN 0
                            WHEN len(toks) <= 64 THEN 1
                            ELSE CAST(ceil((len(toks) - 8) / 56.0) AS INT)
                       END AS nc
                FROM t),
            c AS (
                SELECT doc_id, toks,
                       CAST(unnest(range(0, nc)) AS INT) AS chunk_idx
                FROM n WHERE nc > 0),
            s AS (
                SELECT doc_id, chunk_idx,
                       array_to_string(
                           toks[chunk_idx * 56 + 1 : chunk_idx * 56 + 64],
                           ' ') AS chunk_text,
                       least(64, len(toks) - chunk_idx * 56)
                           AS n_chunk_tokens
                FROM c)
            SELECT doc_id, chunk_idx, n_chunk_tokens,
                   md5(chunk_text) AS fingerprint
            FROM s
        """,
        "tfidf_terms": """
            -- operators/profiling.py tfidf_top_terms replay: smooth idf
            -- ln((N+1)/(df+1)) + 1, top-2 per doc, (score desc, term)
            -- tie-break
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_transform(
                           regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'),
                           x -> lower(x))) AS term
                FROM documents WHERE length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) > 0),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term),
            dfreq AS (
                SELECT term, count(*) AS term_df FROM tf GROUP BY term),
            nn AS (SELECT count(*) AS N FROM documents),
            scored AS (
                SELECT doc_id, tf.term AS term, tf, term_df,
                       round(tf * (ln((N + 1) * 1.0 / (term_df + 1)) + 1),
                             6) AS score
                FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nn)
            SELECT doc_id, term, tf, term_df, score FROM scored
            QUALIFY row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) <= 2
        """,
        "token_quantiles": """
            -- operators/profiling.py grouped_quantiles: exact selection
            -- rule value@rank floor((n-1)*q)+1 over the per-source
            -- value histogram (smallest value whose cumulative count
            -- reaches the target rank)
            WITH v AS (
                SELECT source,
                       CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0
                            ELSE len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'))
                       END AS val
                FROM documents),
            c AS (SELECT source, val, count(*) AS cnt
                  FROM v GROUP BY source, val),
            cum AS (
                SELECT source, val,
                       sum(cnt) OVER (PARTITION BY source ORDER BY val) AS cum,
                       sum(cnt) OVER (PARTITION BY source) AS total
                FROM c),
            q AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q)
            SELECT source, q, min(val) AS value
            FROM cum CROSS JOIN q
            WHERE cum >= floor((total - 1) * q) + 1
            GROUP BY source, q ORDER BY source, q
        """,
        "line_dedup": """
            -- operators/dedup.py line_dedup: normalized-line doc
            -- frequencies, strip lines in >= 5 distinct docs, rebuild
            -- in original order (string_agg ORDER BY position)
            WITH planted AS (
                SELECT doc_id,
                       'SITE NAV | HOME | ABOUT' || chr(10) || text ||
                       CASE WHEN doc_id % 3 = 0
                            THEN chr(10) || 'Copyright 2024 Example Corp'
                            ELSE '' END AS text
                FROM documents),
            lines AS (
                SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS line,
                       unnest(generate_series(
                           1, len(string_split(text, chr(10))))) AS pos
                FROM planted),
            normed AS (
                SELECT doc_id, pos, line,
                       trim(regexp_replace(lower(line),
                            '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS norm
                FROM lines),
            common AS (
                SELECT norm
                FROM (SELECT norm, count(DISTINCT doc_id) AS d
                      FROM normed WHERE length(norm) >= 1 GROUP BY norm)
                WHERE d >= 5),
            kept AS (
                SELECT n.* FROM normed n ANTI JOIN common c USING (norm)),
            rebuilt AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS clean
                FROM kept GROUP BY doc_id)
            SELECT p.doc_id,
                   len(string_split(p.text, chr(10))) AS n_lines,
                   len(string_split(p.text, chr(10)))
                       - coalesce(r.n_kept, 0) AS n_removed_lines,
                   md5(coalesce(r.clean, '')) AS fingerprint
            FROM planted p LEFT JOIN rebuilt r USING (doc_id)
        """,
        "duplicate_spans": """
            -- operators/dedup.py duplicate_spans: 8-token rolling
            -- windows, flag grams in >= 2 distinct docs, merge flagged
            -- positions (gap > k breaks) into maximal spans. Replayed
            -- on gram STRINGS (Spark groups by xxhash64 of the same
            -- string; equality semantics identical modulo collisions).
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           regexp_replace(text,
                               '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$',
                               '', 'g'),
                           '[ \\t\\n\\r\\f\\x0B]+') AS t
                FROM documents
                WHERE length(regexp_replace(text,
                    '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$',
                    '', 'g')) > 0),
            wins AS (
                SELECT doc_id, pos - 1 AS pos,
                       array_to_string(t[pos:pos+7], ' ') AS gram
                FROM toks,
                     unnest(generate_series(1, len(t) - 7)) AS u(pos)
                WHERE len(t) >= 8),
            flagged AS (
                SELECT gram
                FROM (SELECT gram, count(DISTINCT doc_id) AS d
                      FROM wins GROUP BY gram)
                WHERE d >= 2),
            hits AS (
                SELECT w.doc_id, w.pos
                FROM wins w JOIN flagged USING (gram)),
            marked AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER
                                (PARTITION BY doc_id ORDER BY pos) > 8
                            THEN 1 ELSE 0 END AS brk
                FROM hits),
            grp AS (
                SELECT doc_id, pos,
                       sum(brk) OVER
                           (PARTITION BY doc_id ORDER BY pos) AS g
                FROM marked)
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 7 AS BIGINT) AS span_end,
                   count(*) AS n_windows
            FROM grp GROUP BY doc_id, g
        """,
        "strip_spans": """
            -- operators/dedup.py strip_duplicate_spans: full replay —
            -- windows -> flags -> spans -> covered positions ->
            -- anti-join -> ordered string_agg rebuild; unflagged docs
            -- pass through verbatim
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           regexp_replace(text,
                               '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$',
                               '', 'g'),
                           '[ \\t\\n\\r\\f\\x0B]+') AS t
                FROM documents
                WHERE length(regexp_replace(text,
                    '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$',
                    '', 'g')) > 0),
            wins AS (
                SELECT doc_id, pos - 1 AS pos,
                       array_to_string(t[pos:pos+7], ' ') AS gram
                FROM toks,
                     unnest(generate_series(1, len(t) - 7)) AS u(pos)
                WHERE len(t) >= 8),
            flagged AS (
                SELECT gram
                FROM (SELECT gram, count(DISTINCT doc_id) AS d
                      FROM wins GROUP BY gram)
                WHERE d >= 2),
            hits AS (
                SELECT w.doc_id, w.pos
                FROM wins w JOIN flagged USING (gram)),
            marked AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER
                                (PARTITION BY doc_id ORDER BY pos) > 8
                            THEN 1 ELSE 0 END AS brk
                FROM hits),
            grp AS (
                SELECT doc_id, pos,
                       sum(brk) OVER
                           (PARTITION BY doc_id ORDER BY pos) AS g
                FROM marked),
            spans AS (
                SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
                FROM grp GROUP BY doc_id, g),
            covered AS (
                SELECT doc_id, unnest(generate_series(s, e)) AS pos
                FROM spans),
            flagged_docs AS (
                SELECT doc_id, sum(e - s + 1) AS n_covered
                FROM spans GROUP BY doc_id),
            all_toks AS (
                SELECT tk.doc_id, pos - 1 AS pos, tk.t[pos] AS tok
                FROM toks tk JOIN flagged_docs USING (doc_id),
                     unnest(generate_series(1, len(tk.t))) AS u(pos)),
            kept AS (
                SELECT a.* FROM all_toks a
                ANTI JOIN covered c
                ON a.doc_id = c.doc_id AND a.pos = c.pos),
            rebuilt AS (
                SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY pos) AS clean
                FROM kept GROUP BY doc_id),
            n_tok AS (
                SELECT doc_id,
                       CASE WHEN length(regexp_replace(text,
                            '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$',
                            '', 'g')) = 0 THEN 0
                            ELSE len(regexp_split_to_array(
                                regexp_replace(text,
                                    '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$',
                                    '', 'g'),
                                '[ \\t\\n\\r\\f\\x0B]+'))
                       END AS n_tokens
                FROM documents)
            SELECT d.doc_id,
                   CAST(n.n_tokens AS BIGINT) AS n_tokens,
                   CAST(coalesce(f.n_covered, 0) AS BIGINT)
                       AS n_removed_tokens,
                   md5(CASE WHEN f.doc_id IS NULL THEN d.text
                            ELSE coalesce(r.clean, '') END) AS fingerprint
            FROM documents d
            JOIN n_tok n USING (doc_id)
            LEFT JOIN flagged_docs f USING (doc_id)
            LEFT JOIN rebuilt r USING (doc_id)
        """,
        "classifier_score": """
            -- operators/text.py with_classifier_score (hashed path):
            -- bucket = first-8-hex(md5('b:0:'||tok)) % 65536, weight =
            -- first-8-hex(md5('w:0:'||bucket))/2^32*2-1, score =
            -- sigmoid(mean weight); strpos hex arithmetic (no strtol)
            WITH base AS (
                SELECT doc_id, text, regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g') AS trimmed
                FROM documents),
            tok AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trimmed, '[ \\t\\n\\r\\f\\x0B]+')) AS tok
                FROM base WHERE length(trimmed) > 0),
            bk AS (
                SELECT doc_id,
                       ((strpos('0123456789abcdef', substring(md5('b:0:' || tok), 1, 1)) - 1) * 268435456
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 2, 1)) - 1) * 16777216
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 3, 1)) - 1) * 1048576
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 4, 1)) - 1) * 65536
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 5, 1)) - 1) * 4096
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 6, 1)) - 1) * 256
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 7, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 8, 1)) - 1) * 1) % 65536 AS bucket
                FROM tok),
            wt AS (
                SELECT doc_id,
                       ((strpos('0123456789abcdef', substring(md5('w:0:' || CAST(bucket AS VARCHAR)), 1, 1)) - 1) * 268435456
                       + (strpos('0123456789abcdef', substring(md5('w:0:' || CAST(bucket AS VARCHAR)), 2, 1)) - 1) * 16777216
                       + (strpos('0123456789abcdef', substring(md5('w:0:' || CAST(bucket AS VARCHAR)), 3, 1)) - 1) * 1048576
                       + (strpos('0123456789abcdef', substring(md5('w:0:' || CAST(bucket AS VARCHAR)), 4, 1)) - 1) * 65536
                       + (strpos('0123456789abcdef', substring(md5('w:0:' || CAST(bucket AS VARCHAR)), 5, 1)) - 1) * 4096
                       + (strpos('0123456789abcdef', substring(md5('w:0:' || CAST(bucket AS VARCHAR)), 6, 1)) - 1) * 256
                       + (strpos('0123456789abcdef', substring(md5('w:0:' || CAST(bucket AS VARCHAR)), 7, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(md5('w:0:' || CAST(bucket AS VARCHAR)), 8, 1)) - 1) * 1)
                       / 4294967296.0 * 2 - 1 AS w
                FROM bk),
            agg AS (
                SELECT doc_id, sum(w) / count(*) AS logit
                FROM wt GROUP BY doc_id)
            SELECT d.doc_id,
                   round(CASE WHEN d.text IS NULL THEN NULL
                              ELSE 1.0 / (1.0 + exp(-coalesce(a.logit, 0.0)))
                         END, 6) AS clf_score
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "classifier_score_trained": """
            -- with_classifier_score (trained path): the 3-term weight
            -- vector is derived from the raw words in SQL, joined on
            -- bucket, missing buckets weigh 0
            WITH base AS (
                SELECT doc_id, text, regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g') AS trimmed
                FROM documents),
            tok AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trimmed, '[ \\t\\n\\r\\f\\x0B]+')) AS tok
                FROM base WHERE length(trimmed) > 0),
            bk AS (
                SELECT doc_id,
                       ((strpos('0123456789abcdef', substring(md5('b:0:' || tok), 1, 1)) - 1) * 268435456
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 2, 1)) - 1) * 16777216
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 3, 1)) - 1) * 1048576
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 4, 1)) - 1) * 65536
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 5, 1)) - 1) * 4096
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 6, 1)) - 1) * 256
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 7, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || tok), 8, 1)) - 1) * 1) % 65536 AS bucket
                FROM tok),
            wwords AS (
                SELECT * FROM (VALUES ('spark', 2.0), ('slow', -3.0),
                                      ('table', 0.5)) AS t(word, weight)),
            wbuck AS (
                SELECT ((strpos('0123456789abcdef', substring(md5('b:0:' || word), 1, 1)) - 1) * 268435456
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || word), 2, 1)) - 1) * 16777216
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || word), 3, 1)) - 1) * 1048576
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || word), 4, 1)) - 1) * 65536
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || word), 5, 1)) - 1) * 4096
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || word), 6, 1)) - 1) * 256
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || word), 7, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(md5('b:0:' || word), 8, 1)) - 1) * 1) % 65536 AS bucket,
                       weight
                FROM wwords),
            joined AS (
                SELECT t.doc_id, coalesce(w.weight, 0.0) AS wv
                FROM bk t LEFT JOIN wbuck w USING (bucket)),
            agg AS (
                SELECT doc_id, sum(wv) / count(*) AS logit
                FROM joined GROUP BY doc_id)
            SELECT d.doc_id,
                   round(CASE WHEN d.text IS NULL THEN NULL
                              ELSE 1.0 / (1.0 + exp(-coalesce(a.logit, 0.0)))
                         END, 6) AS clf_score
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "budget_selection": """
            -- operators/packing.py select_to_budget: a row is selected
            -- iff its inclusive per-source prefix of n_tokens (doc_id
            -- order) stays within the 2000-token budget
            WITH t AS (
                SELECT doc_id, source,
                       CASE WHEN length(regexp_replace(text,
                            '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$',
                            '', 'g')) = 0 THEN 0
                            ELSE len(regexp_split_to_array(
                                regexp_replace(text,
                                    '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$',
                                    '', 'g'),
                                '[ \\t\\n\\r\\f\\x0B]+'))
                       END AS n_tokens
                FROM documents),
            c AS (
                SELECT doc_id, source, n_tokens,
                       sum(n_tokens) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum
                FROM t)
            SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
                   cum <= 2000 AS selected
            FROM c
        """,
        "domain_cap": """
            -- operators/sampling.py cap_per_key: keep the first 10
            -- docs per source in doc_id order
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY doc_id) <= 10 AS kept
            FROM documents
        """,
        "dsir_select": _dsir_oracle(),
        "ppl_buckets": _ppl_buckets_oracle(),
        "ann_pq": _ann_pq_oracle(),
        "unigram_ppl": """
            -- operators/profiling.py with_unigram_logprob: add-1
            -- smoothed self-trained unigram model, mean -ln p per doc
            WITH tok AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+')) AS tok
                FROM documents
                WHERE length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) > 0),
            vocab AS (
                SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
            tot AS (
                SELECT sum(cnt) AS total, count(*) AS v FROM vocab),
            lp AS (
                SELECT t.doc_id,
                       ln(v.cnt + 1.0) - ln(tot.total + 1.0 * (tot.v + 1))
                           AS lp
                FROM tok t JOIN vocab v USING (tok), tot),
            agg AS (
                SELECT doc_id, -avg(lp) AS nll FROM lp GROUP BY doc_id)
            SELECT d.doc_id,
                   round(CASE WHEN d.text IS NULL THEN NULL
                              ELSE coalesce(a.nll, 0.0) END, 6) AS nll
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "token_quantiles_global": """
            -- grouped_quantiles(by=None): the same selection rule over
            -- the GLOBAL histogram of an all-distinct double column
            WITH v AS (
                SELECT length(text) + doc_id * 1e-7 AS val
                FROM documents),
            c AS (SELECT val, count(*) AS cnt FROM v GROUP BY val),
            cum AS (
                SELECT val,
                       sum(cnt) OVER (ORDER BY val) AS cum,
                       sum(cnt) OVER () AS total
                FROM c),
            q AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q)
            SELECT q, min(val) AS value
            FROM cum CROSS JOIN q
            WHERE cum >= floor((total - 1) * q) + 1
            GROUP BY q ORDER BY q
        """,
        "embedding_neardup": """
            WITH base AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            planted AS (
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(v, x -> x + 0.01) AS v
                FROM base WHERE vec_id < 50),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
            SELECT a.vec_id AS left_id, b.vec_id AS right_id
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))) >= 0.95
        """,
        "semdedup": """
            WITH base AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            planted AS (
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(v, x -> x + 0.01) AS v
                FROM base WHERE vec_id < 50),
            allv AS (
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv
                FROM (SELECT * FROM base UNION ALL SELECT * FROM planted)),
            cent AS (
                SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv,
                       sqrt(list_dot_product(v, v)) AS nc
                FROM base WHERE vec_id < 8),
            asg AS (
                SELECT vec_id, cid AS cluster_id, v, nv FROM (
                    SELECT a.vec_id, c.cid, a.v, a.nv,
                           row_number() OVER (
                               PARTITION BY a.vec_id
                               ORDER BY round(list_dot_product(a.v, c.cv)
                                              / (a.nv * c.nc), 9) DESC,
                                        c.cid ASC) AS rn
                    FROM allv a, cent c) t
                WHERE rn = 1),
            dups AS (
                SELECT DISTINCT r.vec_id
                FROM asg l JOIN asg r ON l.cluster_id = r.cluster_id
                WHERE l.vec_id < r.vec_id
                  AND round(list_dot_product(l.v, r.v)
                            / (l.nv * r.nv), 6) >= 0.95)
            SELECT a.vec_id, a.cluster_id,
                   (d.vec_id IS NULL) AS keep
            FROM asg a LEFT JOIN dups d ON a.vec_id = d.vec_id
        """,
        "ann_topk": """
            WITH c AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10)
            SELECT query_id, vec_id, rank FROM (
                SELECT q.query_id, c.vec_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_dot_product(q.qv, c.v)
                                    / (sqrt(list_dot_product(q.qv, q.qv))
                                       * sqrt(list_dot_product(c.v, c.v))) DESC,
                                    c.vec_id ASC) AS rank
                FROM q, c WHERE c.vec_id <> q.query_id) t
            WHERE rank <= 5
        """,
        "asof_latest_view": """
            SELECT c.user_id, c.event_id AS click_id,
                   v.event_id AS view_id, v.value AS view_value,
                   epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "asof_bucketed": """
            -- same oracle as asof_latest_view: the bucketed engine path
            -- must be output-identical to the plain one
            SELECT c.user_id, c.event_id AS click_id,
                   v.event_id AS view_id, v.value AS view_value,
                   epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "sessions": """
            WITH d AS (
                SELECT user_id, ts, event_id,
                       lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS prev_us
                FROM events),
            s AS (
                SELECT user_id, ts, event_id,
                       CAST(sum(CASE WHEN prev_us IS NULL
                                       OR epoch_us(ts) - prev_us > 28800000000
                                     THEN 1 ELSE 0 END) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                           AS session_id
                FROM d)
            SELECT user_id, session_id, count(*) AS n_events,
                   epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
                   min(event_id) AS first_event
            FROM s GROUP BY user_id, session_id
        """,
        "sessions_scale": """
            -- same oracle as sessions: the scale-safe engine path must
            -- be output-identical to the windowed one
            WITH d AS (
                SELECT user_id, ts, event_id,
                       lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS prev_us
                FROM events),
            s AS (
                SELECT user_id, ts, event_id,
                       CAST(sum(CASE WHEN prev_us IS NULL
                                       OR epoch_us(ts) - prev_us > 28800000000
                                     THEN 1 ELSE 0 END) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                           AS session_id
                FROM d)
            SELECT user_id, session_id, count(*) AS n_events,
                   epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
                   min(event_id) AS first_event
            FROM s GROUP BY user_id, session_id
        """,
        "funnel": """
            WITH ev AS (
                SELECT user_id, event_type AS t, epoch_us(ts) AS us
                FROM events
                WHERE event_type IN ('view', 'click', 'purchase')),
            s1 AS (SELECT user_id, min(us) AS ts1 FROM ev
                   WHERE t = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(e.us) AS ts2
                   FROM ev e JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.t = 'click' AND e.us >= s1.ts1
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.us) AS ts3
                   FROM ev e JOIN s1 ON e.user_id = s1.user_id
                   LEFT JOIN s2 ON e.user_id = s2.user_id
                   WHERE e.t = 'purchase'
                     AND e.us >= coalesce(s2.ts2, s1.ts1)
                   GROUP BY e.user_id),
            keys AS (SELECT DISTINCT user_id FROM events)
            SELECT k.user_id,
                   CAST(CASE
                        WHEN s1.ts1 IS NULL THEN 0
                        WHEN s2.ts2 IS NULL
                             OR s2.ts2 > s1.ts1 + 86400000000 THEN 1
                        WHEN s3.ts3 IS NULL
                             OR s3.ts3 > s1.ts1 + 86400000000 THEN 2
                        ELSE 3 END AS INTEGER) AS funnel_depth,
                   s1.ts1 AS t_first
            FROM keys k
            LEFT JOIN s1 ON k.user_id = s1.user_id
            LEFT JOIN s2 ON k.user_id = s2.user_id
            LEFT JOIN s3 ON k.user_id = s3.user_id
        """,
        "retention": """
            WITH act AS (
                SELECT DISTINCT user_id,
                       CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT)
                           AS b
                FROM events),
            first_seen AS (
                SELECT user_id, min(b) AS cohort FROM act GROUP BY user_id)
            SELECT f.cohort, a.b - f.cohort AS week_offset,
                   count(*) AS n_active
            FROM act a JOIN first_seen f ON a.user_id = f.user_id
            GROUP BY f.cohort, a.b - f.cohort
        """,
        "bm25": """
            WITH base AS (
                SELECT doc_id,
                       list_transform(
                           regexp_split_to_array(
                               regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'),
                               '[ \\t\\n\\r\\f\\x0B]+'),
                           x -> lower(x)) AS toks
                FROM documents
                WHERE length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) > 0),
            docs AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
            stats AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl
                      FROM docs),
            terms(term) AS (VALUES ('hash'), ('merge'), ('spark'), ('table')),
            tf AS (
                SELECT doc_id, dl, term,
                       len(list_filter(toks, x -> x = term)) AS tf
                FROM docs, terms),
            tfpos AS (SELECT * FROM tf WHERE tf > 0),
            dfreq AS (SELECT term, count(*) AS dft FROM tfpos GROUP BY term),
            contrib AS (
                SELECT f.doc_id, f.term,
                       ln(1.0 + (s.n - d.dft + 0.5) / (d.dft + 0.5))
                       * (f.tf * 2.2)
                       / (f.tf + 1.2 * (0.25 + 0.75 * f.dl / s.avgdl)) AS c
                FROM tfpos f JOIN dfreq d USING (term), stats s),
            score AS (
                SELECT doc_id, list_sum(list(c ORDER BY term ASC)) AS sc
                FROM contrib GROUP BY doc_id)
            SELECT doc_id, round(sc, 6) AS bm25
            FROM score
            ORDER BY round(sc, 6) DESC, doc_id ASC
            LIMIT 10
        """,
        "rolling_stats": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_win,
                   round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w
                              AS DOUBLE), 6) AS sum_win
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING
                               AND CURRENT ROW)
        """,
        "market_share": """
            -- Q8 shape: exact decimal num/den, one double division
            WITH vol AS (
                SELECT year(o_orderdate) AS o_year,
                       CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6)) AS volume,
                       sn.n_name AS supp_nation
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation cn ON c_nationkey = cn.n_nationkey
                JOIN region ON cn.n_regionkey = r_regionkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation sn ON s_nationkey = sn.n_nationkey
                WHERE r_name = 'EUROPE')
            SELECT o_year,
                   round(CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                                       THEN volume
                                       ELSE CAST(0 AS DECIMAL(18,6))
                                  END) AS DOUBLE)
                         / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
            FROM vol GROUP BY o_year
        """,
        "returned_revenue": """
            -- Q10 shape: exact decimal revenue, custkey tie-break top-20
            SELECT c_custkey, c_name, n_name, c_acctbal,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY c_custkey, c_name, n_name, c_acctbal
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "volume_customers": """
            -- Q18 shape: integer-exact quantity HAVING cut
            WITH big AS (
                SELECT l_orderkey,
                       CAST(round(sum(l_quantity), 0) AS BIGINT)
                           AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING CAST(round(sum(l_quantity), 0) AS BIGINT) > 300)
            SELECT c_custkey, c_name, o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
                       AS orderdate,
                   total_qty
            FROM big
            JOIN orders ON big.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "brand_revenue_bands": """
            -- Q19 shape: OR-of-ANDs arms, exact decimal sum
            SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 15)
               OR (p_brand = 'Brand#22' AND p_size BETWEEN 5 AND 20
                   AND l_quantity BETWEEN 10 AND 25)
               OR (p_brand = 'Brand#33' AND p_size BETWEEN 15 AND 40
                   AND l_quantity BETWEEN 20 AND 35)
        """,
        "trips": f"""
            -- trip-segmentation window replay: identical haversine,
            -- identical break predicate and integer quantization
            WITH t AS (
                SELECT user_id, ts, event_id,
                       {_ELON} AS lon, {_ELAT} AS lat
                FROM events),
            s AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER w AS pts,
                       ({HAVERSINE_SQL.format(
                           lon1='lag(lon) OVER w', lat1='lag(lat) OVER w',
                           lon2='lon', lat2='lat')}) AS step
                FROM t
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            f AS (
                SELECT user_id, ts, event_id, step,
                       CASE WHEN pts IS NULL THEN 1
                            WHEN epoch(ts) - epoch(pts) > 86400 THEN 1
                            WHEN step > 25000.0 THEN 1
                            ELSE 0 END AS brk
                FROM s),
            g AS (
                SELECT user_id, ts, brk,
                       CASE WHEN brk = 1 THEN 0
                            ELSE COALESCE(CAST(round(step * 1000000.0)
                                               AS BIGINT), 0) END AS stepq,
                       CAST(sum(brk) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) AS trip_id
                FROM f)
            SELECT user_id, trip_id, count(*) AS n_points,
                   round(CAST(sum(stepq) AS DOUBLE) / 1000000.0, 6)
                       AS path_km,
                   min(ts) AS start_ts, max(ts) AS end_ts
            FROM g GROUP BY user_id, trip_id
        """,
        "revenue_cube": """
            -- CUBE lattice with explicit grouping flags; decimal sums
            SELECT COALESCE(n_name, 'ALL') AS nation,
                   COALESCE(CAST(yr AS VARCHAR), 'ALL') AS year,
                   CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
                   CAST(GROUPING(yr) AS INTEGER) AS g_year,
                   count(*) AS n_orders,
                   round(CAST(sum(p) AS DOUBLE), 2) AS revenue
            FROM (
                SELECT n_name, year(o_orderdate) AS yr,
                       CAST(o_totalprice AS DECIMAL(18,2)) AS p
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey) j
            GROUP BY CUBE(n_name, yr)
        """,
        "events_rollup": """
            SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY ROLLUP(event_type, hr)
        """,
        "qsketch_chars": """
            -- replay of sketches.qsketch_build + qsketch_quantile:
            -- dyadic bin = bit length (bin() string length in both
            -- engines), ceil-rank target, integer interpolation
            WITH sk AS (
              SELECT lang,
                     CASE WHEN n_chars <= 0 THEN 0
                          ELSE length(bin(n_chars)) END AS bin,
                     count(*) AS n, min(n_chars) AS vmin,
                     max(n_chars) AS vmax
              FROM documents GROUP BY 1, 2),
            c AS (
              SELECT lang, bin, n, vmin, vmax,
                     sum(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
                     sum(n) OVER (PARTITION BY lang) AS n_total
              FROM sk),
            q AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
                                        ('p99', 99, 100))
                  AS t(q_label, q_num, q_den)),
            j AS (
              SELECT c.*, q.q_label,
                     (q.q_num * c.n_total + q.q_den - 1) // q.q_den AS target
              FROM c CROSS JOIN q),
            pick AS (
              SELECT *, row_number() OVER (PARTITION BY lang, q_label
                                           ORDER BY bin) AS rn
              FROM j WHERE cum >= target)
            SELECT lang, q_label,
                   CAST(vmin + ((vmax - vmin) * (target - (cum - n) - 1))
                        // greatest(n - 1, 1) AS BIGINT) AS q_est
            FROM pick WHERE rn = 1
        """,
        "dq_checks": """
            -- replay of profiling.dq_report: one aggregation row,
            -- unpivoted to (metric, value); checks encode 1.0/0.0
            WITH m AS (
              SELECT count(*) AS row_count,
                     count(*) FILTER (o_custkey IS NULL) AS null_custkey,
                     count(DISTINCT o_orderstatus) AS distinct_status,
                     min(o_totalprice) AS min_totalprice,
                     max(o_totalprice) AS max_totalprice,
                     count(*) - count(DISTINCT o_orderkey) AS dup_orderkeys,
                     1000.0 * count(*) FILTER (o_orderpriority = '1-URGENT')
                            / count(*) AS urgent_per_mille,
                     CASE WHEN count(*) FILTER (o_custkey IS NULL) = 0
                          THEN 1.0 ELSE 0.0 END AS no_null_custkey,
                     CASE WHEN min(o_totalprice) > 0
                          THEN 1.0 ELSE 0.0 END AS prices_positive,
                     CASE WHEN max(length(o_orderstatus)) = 1
                          THEN 1.0 ELSE 0.0 END AS status_single_char
              FROM orders)
            SELECT metric, round(CAST(value AS DOUBLE), 6) AS value FROM (
              SELECT 'row_count' AS metric, row_count AS value FROM m
              UNION ALL SELECT 'null_custkey', null_custkey FROM m
              UNION ALL SELECT 'distinct_status', distinct_status FROM m
              UNION ALL SELECT 'min_totalprice', min_totalprice FROM m
              UNION ALL SELECT 'max_totalprice', max_totalprice FROM m
              UNION ALL SELECT 'dup_orderkeys', dup_orderkeys FROM m
              UNION ALL SELECT 'urgent_per_mille', urgent_per_mille FROM m
              UNION ALL SELECT 'no_null_custkey', no_null_custkey FROM m
              UNION ALL SELECT 'prices_positive', prices_positive FROM m
              UNION ALL SELECT 'status_single_char', status_single_char FROM m)
        """,
        "pivot_events": """
            SELECT CAST(user_id % 16 AS INTEGER) AS cohort,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'view') AS view
            FROM events GROUP BY 1
        """,
        "nation_pairs": """
            -- decimal(18,6) sum: thousands of groups make double-sum
            -- order noise flip round-2 cent boundaries between engines
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(18,6))) AS DOUBLE), 2)
                       AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE sn.n_name <> cn.n_name
            GROUP BY 1, 2, 3
        """,
        "cheapest_supplier": """
            SELECT l_partkey AS p_partkey, l_suppkey AS best_suppkey,
                   round(l_extendedprice, 2) AS best_price
            FROM lineitem
            QUALIFY row_number() OVER (
                PARTITION BY l_partkey
                ORDER BY l_extendedprice ASC, l_suppkey ASC) = 1
        """,
        "cdc_merge": """
            -- merge_upsert replay: merged = (target minus source keys)
            -- UNION ALL (source rows not delete-flagged); updates keys
            -- %50=0, inserts shifted +1e8 on keys %97=3, deletes %100=49
            WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                       FROM orders),
            src AS (
                SELECT o_orderkey, 'X' AS o_orderstatus,
                       o_totalprice + 1000 AS o_totalprice,
                       FALSE AS del FROM t WHERE o_orderkey % 50 = 0
                UNION ALL
                SELECT o_orderkey + 100000000, 'N', o_totalprice, FALSE
                FROM t WHERE o_orderkey % 97 = 3
                UNION ALL
                SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE
                FROM t WHERE o_orderkey % 100 = 49),
            merged AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM t WHERE o_orderkey NOT IN
                     (SELECT o_orderkey FROM src)
                UNION ALL
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM src WHERE NOT del)
            SELECT o_orderstatus, count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                              AS DOUBLE), 2) AS total_price
            FROM merged GROUP BY o_orderstatus
        """,
        "cdc_compact": """
            -- compact_cdc_log replay: latest event per user by the
            -- unique event id, dropped when the final op is D
            WITH log AS (
                SELECT user_id, event_id, event_type, value,
                       (['I','U','U','D'])[CAST(event_id % 4 AS INTEGER) + 1]
                           AS op
                FROM events),
            last AS (
                SELECT * FROM log
                QUALIFY row_number() OVER (
                    PARTITION BY user_id
                    ORDER BY event_id DESC,
                             CASE WHEN op = 'D' THEN 1 ELSE 0 END DESC,
                             op DESC) = 1)
            SELECT event_type, count(*) AS n_users,
                   round(CAST(sum(CAST(value AS DECIMAL(18,6)))
                              AS DOUBLE), 2) AS total_value
            FROM last WHERE op <> 'D'
            GROUP BY event_type
        """,
        "price_histogram": """
            -- numeric_histogram replay: per-priority bounds, 16
            -- equi-width bins, bin = floor((v-lo)*16/span) clamped —
            -- the EXACT same IEEE double op order as the Spark side
            WITH b AS (
                SELECT o_orderpriority, min(o_totalprice) AS lo,
                       max(o_totalprice) AS hi
                FROM orders GROUP BY o_orderpriority),
            binned AS (
                SELECT o.o_orderpriority,
                       CASE WHEN hi - lo > 0 THEN
                           CAST(least(15, floor((o_totalprice - lo) * 16
                                                / (hi - lo))) AS INTEGER)
                       ELSE 0 END AS bin, lo, hi
                FROM orders o JOIN b USING (o_orderpriority))
            SELECT o_orderpriority, bin,
                   round(lo + bin * (hi - lo) / 16, 6) AS lo_edge,
                   round(lo + (bin + 1) * (hi - lo) / 16, 6) AS hi_edge,
                   count(*) AS n
            FROM binned GROUP BY o_orderpriority, bin, lo, hi
        """,
        "part_skyline": """
            -- literal NOT-EXISTS dominator skyline (minimize price,
            -- size); identical duplicates both survive
            SELECT a.p_partkey, a.p_retailprice, a.p_size
            FROM part a
            WHERE NOT EXISTS (
                SELECT 1 FROM part b
                WHERE b.p_retailprice <= a.p_retailprice
                  AND b.p_size <= a.p_size
                  AND (b.p_retailprice < a.p_retailprice
                       OR b.p_size < a.p_size))
        """,
        "events_gapfill": """
            -- densify_counts replay: observed bucket range x observed
            -- types, zero-filled; integer-microsecond buckets
            WITH b AS (
                SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT)
                           AS bkt, event_type
                FROM events),
            c AS (SELECT bkt, event_type, count(*) AS n
                  FROM b GROUP BY 1, 2),
            rng AS (SELECT min(bkt) AS lo, max(bkt) AS hi FROM b),
            grid AS (
                SELECT unnest(range(lo, hi + 1)) AS bkt FROM rng),
            types AS (SELECT DISTINCT event_type FROM events)
            SELECT make_timestamp(g.bkt * 3600000000) AS bucket_ts,
                   t.event_type, coalesce(c.n, 0) AS n
            FROM grid g CROSS JOIN types t
            LEFT JOIN c ON c.bkt = g.bkt AND c.event_type = t.event_type
        """,
        "balance_deciles": """
            SELECT c_nationkey, CAST(decile AS INTEGER) AS decile,
                   count(*) AS n_cust,
                   round(min(c_acctbal), 2) AS lo_bal,
                   round(max(c_acctbal), 2) AS hi_bal
            FROM (SELECT c_nationkey, c_acctbal,
                         ntile(10) OVER (PARTITION BY c_nationkey
                                         ORDER BY c_acctbal ASC,
                                                  c_custkey ASC)
                             AS decile
                  FROM customer)
            GROUP BY c_nationkey, decile
        """,
        "supplier_reach": """
            -- bfs_distances replay: bounded recursive CTE (UNION
            -- dedups per level), min distance per node, kind histogram
            WITH RECURSIVE e AS (
                SELECT DISTINCT o_custkey * 2 AS s,
                                l_suppkey * 2 + 1 AS d
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            ue AS (SELECT s, d FROM e
                   UNION SELECT d AS s, s AS d FROM e),
            walk(node, dist) AS (
                SELECT (g + 1) * 2 + 1, 0
                FROM (SELECT unnest(range(0, 10)) AS g)
                UNION
                SELECT ue.d, w.dist + 1
                FROM walk w JOIN ue ON ue.s = w.node
                WHERE w.dist < 2),
            best AS (SELECT node, min(dist) AS dist
                     FROM walk GROUP BY node)
            SELECT dist, CASE WHEN node % 2 = 1 THEN 'supplier'
                              ELSE 'customer' END AS kind,
                   count(*) AS n_nodes
            FROM best GROUP BY 1, 2
        """,
        "value_quantiles_cont": """
            -- interpolated quantiles replay: same histogram rank rule,
            -- same blend op order v_lo + frac*(v_hi - v_lo)
            WITH c AS (SELECT value AS val, count(*) AS cnt
                       FROM events WHERE value IS NOT NULL
                       GROUP BY value),
            cum AS (SELECT val, sum(cnt) OVER (ORDER BY val) AS cum,
                           sum(cnt) OVER () AS total
                    FROM c),
            q AS (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.99]) AS DOUBLE)
                      AS q),
            picked AS (
                SELECT q, 
                       min(val) FILTER (cum >= CAST(floor((total - 1) * q)
                                                    AS BIGINT) + 1)
                           AS vlo,
                       min(val) FILTER (cum >= least(
                           CAST(floor((total - 1) * q) AS BIGINT) + 2,
                           total)) AS vhi,
                       min((total - 1) * q
                           - CAST(floor((total - 1) * q) AS BIGINT))
                           AS frac
                FROM cum CROSS JOIN q GROUP BY q)
            SELECT q, vlo + frac * (vhi - vlo) AS value
            FROM picked ORDER BY q
        """,
        "vocab_coverage": """
            -- profiling.vocab_coverage replay: top-50 tokens + exact
            -- integer cumulative coverage share
            WITH t AS (
                SELECT CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE list_transform(
                                regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'),
                                x -> lower(x))
                       END AS toks
                FROM documents),
            tok AS (SELECT unnest(toks) AS token FROM t),
            c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
            tot AS (SELECT count(*) AS total FROM tok),
            top AS (SELECT token, cnt FROM c
                    ORDER BY cnt DESC, token ASC LIMIT 50)
            SELECT CAST(row_number() OVER
                        (ORDER BY cnt DESC, token ASC) AS INTEGER)
                       AS rank,
                   token, cnt,
                   round(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW)
                         * 1.0 / (SELECT total FROM tot), 6)
                       AS cum_share
            FROM top
        """,
        "source_overlap": """
            -- profiling.key_ngram_overlap replay: distinct 3-grams per
            -- source, shared-gram counts per source pair
            WITH t AS (
                SELECT source,
                       CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0
                            THEN CAST([] AS VARCHAR[])
                            ELSE list_transform(
                                regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'),
                                x -> lower(x))
                       END AS toks
                FROM documents),
            g AS (
                SELECT source,
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(
                                range(1, len(toks) - 1),
                                i -> array_to_string(toks[i:i+2], ' '))
                            ELSE CAST([] AS VARCHAR[]) END AS grams
                FROM t),
            kg AS (SELECT DISTINCT source, unnest(grams) AS gram FROM g)
            SELECT a.source AS key_a, b.source AS key_b,
                   count(*) AS n_shared
            FROM kg a JOIN kg b
              ON a.gram = b.gram AND a.source < b.source
            GROUP BY 1, 2
        """,
        "fuzzy_names": """
            -- dedup.edit_distance_pairs replay: customer pairs within
            -- a (nation, segment) block at Levenshtein distance <= 2
            -- (length band / segment filtering are pure pruning — same
            -- result set without them)
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   CAST(levenshtein(a.c_name, b.c_name) AS INTEGER)
                       AS distance
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_mktsegment = b.c_mktsegment
             AND a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 2
        """,
        "small_qty_revenue": """
            -- Q17 shape: the scalar correlated subquery decorrelated
            -- into a per-part average join. l_quantity is
            -- integer-valued, so avg is exact in any engine.
            WITH a AS (SELECT l_partkey, avg(l_quantity) AS avg_qty
                       FROM lineitem GROUP BY l_partkey)
            SELECT p_brand,
                   round(CAST(sum(CAST(l_extendedprice
                                       AS DECIMAL(18,6))) AS DOUBLE)
                         / CAST(7.0 AS DOUBLE), 2) AS avg_yearly
            FROM lineitem
            JOIN a USING (l_partkey)
            JOIN part ON l_partkey = p_partkey
            WHERE l_quantity < CAST(0.2 AS DOUBLE) * avg_qty
            GROUP BY p_brand
        """,
        "late_suppliers": """
            -- Q21 shape: the sole laggard supplier on multi-supplier
            -- orders (>100 days order-to-ship)
            WITH late AS (
                SELECT DISTINCT l_orderkey, l_suppkey
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE date_diff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) > 100),
            alll AS (SELECT DISTINCT l_orderkey, l_suppkey
                     FROM lineitem)
            SELECT s_name, numwait FROM (
                SELECT l1.l_suppkey, count(*) AS numwait
                FROM late l1
                WHERE EXISTS (SELECT 1 FROM alll x
                              WHERE x.l_orderkey = l1.l_orderkey
                                AND x.l_suppkey <> l1.l_suppkey)
                  AND NOT EXISTS (SELECT 1 FROM late y
                                  WHERE y.l_orderkey = l1.l_orderkey
                                    AND y.l_suppkey <> l1.l_suppkey)
                GROUP BY l1.l_suppkey)
            JOIN supplier ON l_suppkey = s_suppkey
            ORDER BY numwait DESC, s_name ASC LIMIT 20
        """,
        "idle_rich": """
            -- Q22 shape: above-average-balance customers with no
            -- orders, per nation. Threshold = decimal sum / count
            -- (exact — no float-order drift in the comparison).
            WITH thr AS (
                SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
                            AS DOUBLE) / count(*) AS t
                FROM customer WHERE c_acctbal > 0)
            SELECT c_nationkey, count(*) AS numcust,
                   round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6)))
                              AS DOUBLE), 2) AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT t FROM thr)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey)
            GROUP BY c_nationkey
        """,
        "mad_outliers": """
            -- robust per-language length profile: median + MAD via the
            -- exact rank rule value@floor((n-1)*0.5)+1, outliers at
            -- dev > 3*MAD (all-integer arithmetic)
            WITH v AS (
                SELECT lang,
                       CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0
                            ELSE len(regexp_split_to_array(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+'))
                       END AS val
                FROM documents),
            c AS (SELECT lang, val, count(*) AS cnt
                  FROM v GROUP BY lang, val),
            cum AS (SELECT lang, val,
                           sum(cnt) OVER (PARTITION BY lang
                                          ORDER BY val) AS cum,
                           sum(cnt) OVER (PARTITION BY lang) AS total
                    FROM c),
            med AS (SELECT lang, min(val) AS median
                    FROM cum
                    WHERE cum >= floor((total - 1) * 0.5) + 1
                    GROUP BY lang),
            d AS (SELECT v.lang, abs(v.val - m.median) AS dev, m.median
                  FROM v JOIN med m ON v.lang = m.lang),
            dc AS (SELECT lang, dev, count(*) AS cnt
                   FROM d GROUP BY lang, dev),
            dcum AS (SELECT lang, dev,
                            sum(cnt) OVER (PARTITION BY lang
                                           ORDER BY dev) AS cum,
                            sum(cnt) OVER (PARTITION BY lang) AS total
                     FROM dc),
            mad AS (SELECT lang, min(dev) AS mad
                    FROM dcum
                    WHERE cum >= floor((total - 1) * 0.5) + 1
                    GROUP BY lang)
            SELECT d.lang, d.median, mad.mad,
                   count(*) AS n_docs,
                   count(*) FILTER (d.dev > 3 * mad.mad) AS n_outliers
            FROM d JOIN mad ON d.lang = mad.lang
            GROUP BY d.lang, d.median, mad.mad
        """,
    }
    # generated oracles (polygon literals / 64-bit vote unrolls / fixture
    # paths are built programmatically — see the _*_oracle helpers above)
    out["lanes_golden"] = _lanes_golden_oracle()
    out["s2_binning"] = _s2_oracle(level=12)
    out["langid"] = _langid_oracle()
    out["gopher_rules"] = _gopher_oracle()
    out["bloom_contamination"] = _bloom_oracle()
    out["hll_users"] = _hll_oracle()
    out["interval_overlap"] = _interval_overlap_oracle()
    out["order_priority"] = _order_priority_oracle()
    out["cms_tokens"] = _cms_oracle()
    out["cust_order_dist"] = _cust_order_dist_oracle()
    out["weighted_docs"] = _weighted_docs_oracle()
    out["scd2_status"] = _scd2_oracle()
    out["pagerank"] = _pagerank_oracle()
    out["curation_pipeline"] = _curation_oracle()
    out["locale_spatial"] = _locale_spatial_oracle()
    out["media_refs"] = _media_refs_oracle()
    out["multimodal_features"] = _multimodal_oracle()
    out["road_width"] = _road_width_oracle()
    out["lanes_roundtrip"] = _lanes_roundtrip_oracle()
    out["dedup_components"] = _dedup_components_oracle()
    out["dedup_survivors"] = _dedup_survivors_oracle()
    out["simhash_pairs"] = _simhash_oracle(max_hamming=6)
    # exhaustive-probe IVF provably equals brute force → same oracle
    out["ann_ivf"] = out["ann_topk"]
    # banded MinHash at 8x4-row bands catches every pair on these corpora
    # (verified in tests/test_training_ops.py::test_minhash_matches_bruteforce
    # and the parity gate): oracle = the exact n-gram Jaccard join
    out["minhash_pairs"] = out["ngram_jaccard"]
    # prefix filtering is LOSSLESS for J >= t (the SSJoin/PPJoin prefix
    # principle; equivalence also pinned by
    # tests/test_training_ops.py::test_jaccard_prefix_matches_bruteforce)
    # → the scale path shares the all-pairs oracle verbatim
    out["jaccard_prefix"] = out["ngram_jaccard"]
    return out


if __name__ == "__main__":
    from osm2lanes_spark.session import get_spark

    spark = get_spark("entry-smoke", cpus=8)
    df = entry(spark)
    print("entry rows:", df.count())
    df.show(3)
