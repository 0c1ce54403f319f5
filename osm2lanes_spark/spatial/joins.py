"""Spatial joins: cell-indexed containment and kNN.

Replaces the reference's Overpass client queries:
- way→country containment (``is_in`` — overpass.rs:147-157,201-213) becomes
  a lookup in one locale index (:class:`LocaleResolver`: the morton
  covering of the polygons as sorted arrays) plus a ray-casting
  refinement on boundary cells;
- nearest-way kNN (``get_nearby`` — overpass.rs:193-242) becomes an
  expanding k-ring candidate join + ``row_number() == 1``.

Scale design (100 TB / 10^12 docs): the polygon dim (countries/admin
areas) is small, so the index is built once on the driver, shipped once
per SparkContext as a broadcast, and looked up inside a narrow Arrow map —
the fact side is never shuffled, so a hot city cell cannot pin a reducer.
The PIP refinement runs only on boundary cells (``full`` covering cells
skip it) and is a vectorized numpy kernel inside Arrow batches.

Every Python-side locale lookup (the ``map`` join, the fused lane stage)
encodes its cells in numpy (:meth:`LocaleResolver.locate`); the JVM twin
:func:`cell_sql` serves only the JVM joins (``broadcast``, the kNN
point-site index, :func:`distance_join`, the raster binning).

Every Python UDF here ends each call with :func:`session.drop_zip_finders`,
so a reused worker's next task does not re-read ``pyspark.zip``.
"""

from __future__ import annotations

import functools
import hashlib
import threading
from typing import Optional

import numpy as np
import pandas as pd

from pyspark import Broadcast, SparkContext
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import drop_zip_finders
from . import cells as C
from . import polygons as P

DEFAULT_LEVEL = 12
# the cell LocaleResolver.locate gives a point with a null, NaN or infinite
# coordinate: an int64 that no cell id (all >= 0) can take, so it has no
# candidates, and the cell array stays int64 (a float64 id from level 24 up
# can lose bits). No cell column crosses Arrow.
NO_CELL = -1


# ---------------------------------------------------------------------------
# Encode kernel: Spark SQL text (JVM-side, whole-stage-codegen'd)
# ---------------------------------------------------------------------------
#
# The builders below return Spark SQL text, not Columns: a Column builder
# pays one py4j round trip per ``F.lit``/``bitwiseAND``/``shiftleft``, and
# the cell encode alone is a few hundred of them per plan. The text is
# pure Python, cached per process, and reaches the JVM in one ``F.expr``.
# Literals are doubles (``180.0D``; a bare ``180.0`` is a decimal), so the
# arithmetic is the numpy encoder's IEEE arithmetic and the ids stay
# bit-identical to :func:`cells.encode`.

_INF = "CAST('Infinity' AS DOUBLE)"


def grid_sql(v: str, lo: float, span: float, level: int) -> str:
    """Integer grid coordinate of the SQL double ``v`` on an axis starting
    at ``-lo`` and ``span`` wide: floored, then clamped to
    ``[0, 2^level - 1]`` (as :func:`cells.encode`)."""
    n = 1 << level
    return (f"least(greatest(floor((({v}) + {lo!r}D) / {span!r}D"
            f" * {float(n)!r}D), 0L), {n - 1}L)")


def xy_cell_sql(x: str, y: str, level: int) -> str:
    """Packed int64 cell id ``(morton << 6) | level`` of SQL grid
    coordinates ``x``, ``y`` in ``[0, 2^level - 1]``: bit i of x lands on
    bit 2i + 6, bit i of y on bit 2i + 7 (the twin of
    ``cells._xy_to_morton``; one term per bit, so the text stays linear in
    ``level``, unlike a mask cascade whose text doubles per step)."""
    bits = " | ".join(f"shiftleft(({v}) & {1 << i}L, {i + j + 6})"
                      for i in range(level) for j, v in ((0, x), (1, y)))
    return f"({bits} | {level}L)"


def _finite_sql(lon: str, lat: str) -> str:
    """SQL text that is true only when the doubles (lon, lat) are both
    finite: false for ±inf and for NaN (Spark orders NaN above +inf), null
    for null."""
    return f"abs({lon}) < {_INF} AND abs({lat}) < {_INF}"


# true for a way with at least one vertex, all finite; a null geometry or
# vertex makes it null, so a ``where`` drops those ways too
USABLE_GEOMETRY_SQL = ("size(geometry) > 0 AND "
                       f"forall(geometry, p -> {_finite_sql('p.lon', 'p.lat')})")


@functools.lru_cache(maxsize=256)
def cell_sql(lon: str, lat: str, level: int) -> str:
    """SQL text of the int64 cell id of SQL doubles (lon, lat) at ``level``.

    ``lon``/``lat`` are any double valued SQL. Every finite point gets the
    id of the numpy twin :func:`cells.encode` (asserted in tests). A null,
    NaN or infinite coordinate gives a null cell, so the point resolves to
    no polygon (the clamp would put NaN on the west edge — ``floor`` casts
    it to 0 — and ±inf on an edge).
    """
    x = grid_sql(lon, 180.0, 360.0, level)
    y = grid_sql(lat, 90.0, 180.0, level)
    return f"CASE WHEN {_finite_sql(lon, lat)} THEN {xy_cell_sql(x, y, level)} END"


def with_cell(df: DataFrame, level: int = DEFAULT_LEVEL) -> DataFrame:
    """Add the int64 ``cell`` of (``lon``, ``lat``) at ``level``, encoded
    JVM-side and whole-stage-codegen'd (:func:`cell_sql`); null for a null,
    NaN or infinite coordinate."""
    return df.withColumn("cell", F.expr(cell_sql("lon", "lat", level)))


# ---------------------------------------------------------------------------
# Polygon dim: covering cells
# ---------------------------------------------------------------------------

def polygon_cells_pdf(polygons: dict[str, np.ndarray], level: int) -> pd.DataFrame:
    """Driver-side covering of a *small* polygon dim.

    polygons: key → (V,2) ring array. Returns pandas DF
    (cell:int64, key:str, full:bool); ``full`` cells skip PIP refinement.
    """
    rows = []
    for key, ring in polygons.items():
        covering = P.cover_polygon(ring, level)
        full = P.classify_cells(ring, covering)
        for cell, f in zip(covering.tolist(), full.tolist()):
            rows.append((cell, key, f))
    return pd.DataFrame(rows, columns=["cell", "key", "full"])


def containment_join(points: DataFrame, polygons: dict[str, np.ndarray],
                     level: int = DEFAULT_LEVEL,
                     strategy: str = "map") -> DataFrame:
    """Assign each point the key of the polygon containing it and that
    key's driving side.

    points: DataFrame with ``doc_id``, ``lon``, ``lat``, and no ``key`` or
    ``driving_side``; ids need not be unique or non-null. Returns every
    input row, with its columns, ``key`` and ``driving_side`` (nullable).

    Both strategies look points up in the one memoised, broadcast locale
    index (:func:`make_locale_resolver`) and give the same answer: a point
    inside several polygons gets the smallest key, and a point with a
    null, NaN or infinite coordinate (no cell) or inside no polygon gets
    ``None`` for both.

    strategy='map':       zero-shuffle narrow map — only ``lon``/``lat``
    cross to one Arrow stage, where the locale kernel encodes the cells in
    numpy and resolves them (:meth:`LocaleResolver.locate`: sorted cell
    array + PIP refinement); it pipelines with the scan and downstream
    stages.
    strategy='broadcast': cells encoded JVM-side (:func:`with_cell`), the
    index's covering (with each key's side) as a broadcast hash join dim,
    PIP on boundary candidates, then one groupBy shuffle on a per-row id
    to keep each row's smallest matching key and its side; ``doc_id``
    leads the output columns.
    """
    if strategy not in ("map", "broadcast"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    spark: SparkSession = points.sparkSession
    index = make_locale_resolver(polygons, level)
    shipped = index.broadcast(spark.sparkContext)
    if strategy == "map":
        @F.pandas_udf("key string, driving_side string")
        def resolve_udf(lon_s: pd.Series, lat_s: pd.Series) -> pd.DataFrame:
            keys, sides = shipped.value.locate(lon_s.to_numpy(), lat_s.to_numpy())
            drop_zip_finders()
            return pd.DataFrame({"key": keys, "driving_side": sides})

        return (points.withColumn("_loc", resolve_udf("lon", "lat"))
                .select("*", "_loc.*").drop("_loc"))

    pts = with_cell(points, level)
    dim = F.broadcast(spark.createDataFrame(pd.DataFrame(
        {"cell": index.cells, "key": index.keys[index.codes],
         "side": index.sides[index.codes], "full": index.full})))

    # PIP refinement only for boundary cells (full=false)
    @F.pandas_udf(T.BooleanType())
    def pip_udf(lon_s: pd.Series, lat_s: pd.Series, key_s: pd.Series) -> pd.Series:
        resolver = shipped.value
        keys = key_s.to_numpy(object)
        has = pd.notna(keys)
        hit = np.zeros(len(keys), dtype=bool)
        hit[has] = refine(np.searchsorted(resolver.keys[:-1], keys[has]),
                          lon_s.to_numpy(np.float64)[has],
                          lat_s.to_numpy(np.float64)[has], resolver.rings)
        drop_zip_finders()
        return pd.Series(hit)

    # Match flag: covering-cell hit refined by PIP only on boundary cells.
    matched_key = F.when(
        F.col("key").isNotNull()
        & (F.col("full") | pip_udf(F.col("lon"), F.col("lat"), F.col("key"))),
        F.col("key"))

    # Single-shuffle finalize on a per-row id taken before the join (ids in
    # ``doc_id`` may repeat or be null): per row the min matching key and
    # its side (border points in two coverings get a deterministic winner),
    # the original columns carried along — no join-back to the fact table.
    other_cols = [c for c in points.columns if c != "doc_id"]
    return (pts.withColumn("_row", F.monotonically_increasing_id())
            .join(dim, "cell", "left")
            .withColumn("_mkey", matched_key)
            .groupBy("_row")
            .agg(F.min("_mkey").alias("key"),
                 F.min_by("side", "_mkey").alias("driving_side"),
                 *[F.first(c).alias(c) for c in points.columns])
            .select("doc_id", *other_cols, "key", "driving_side"))


def repartition_by_cell_range(df: DataFrame, num_partitions: int,
                              cell_col: str = "cell") -> DataFrame:
    """Range-partition facts by raw cell id = spatial co-location.

    Because descendants of a coarser cell form one contiguous morton range
    (``cells.prefix_range``), range partitioning on the int64 id puts
    spatially adjacent rows in the same partition: downstream per-area
    stages (zonal joins, per-region compaction, polygon-local writes)
    read/shuffle locally, and Iceberg-style min/max file pruning on the
    cell column becomes effective for spatial predicates.
    """
    return df.repartitionByRange(num_partitions, F.col(cell_col))


def refine(codes: np.ndarray, lon: np.ndarray, lat: np.ndarray,
           rings: list[np.ndarray]) -> np.ndarray:
    """The PIP refinement: is point i inside ``rings[codes[i]]``? Points
    are grouped by code, so each ring is cast once per batch."""
    hit = np.zeros(len(codes), dtype=bool)
    for code in np.unique(codes):
        grp = np.flatnonzero(codes == code)
        hit[grp] = P.point_in_polygon(lon[grp], lat[grp], rings[code])
    return hit


class LocaleResolver:
    """The locale kernel: (cell, lon, lat) arrays → (key, driving_side).

    Index: the covering as flat arrays sorted by (cell, code) — int64
    ``cells``, small-int ``codes`` (a code is the key's index in sorted key
    order) and bool ``full`` (cell wholly inside that polygon). Lookup: two
    ``np.searchsorted`` calls give each point its run of candidate rows; a
    ``full`` candidate matches at once, the rest go through :func:`refine`.
    A point inside several polygons gets the smallest key (= smallest
    code). A null, NaN or :data:`NO_CELL` cell has no candidates; it, and a
    point inside no polygon, resolves to ``(None, None)``. Pass cells as
    int64, nulls as :data:`NO_CELL`: a float64 id can have lost bits.

    Build one with :func:`make_locale_resolver` (memoised) and ship it with
    :meth:`broadcast`.
    """

    def __init__(self, polygons: dict[str, np.ndarray], level: int):
        from ..core.locale import COUNTRIES

        self.level = level
        keys = sorted(polygons)
        # copies: a later in-place edit of the caller's rings must not
        # reach a memoised index
        self.rings = [np.array(polygons[k], np.float64) for k in keys]
        # a trailing None, so code -1 (unresolved) indexes to None
        self.keys = np.array(keys + [None], dtype=object)
        self.sides = np.array([COUNTRIES[k][2] if k in COUNTRIES else None
                               for k in keys] + [None], dtype=object)
        dim = polygon_cells_pdf(polygons, level)
        codes = np.searchsorted(self.keys[:-1], dim["key"].to_numpy(object))
        cells = dim["cell"].to_numpy(np.int64)
        order = np.lexsort((codes, cells))
        self.cells = cells[order]
        self.codes = codes[order].astype(np.min_scalar_type(len(keys)))
        self.full = dim["full"].to_numpy(bool)[order]
        self._shipped = None  # (SparkContext, Broadcast) — driver-side only

    def __getstate__(self):
        return dict(self.__dict__, _shipped=None)

    def broadcast(self, sc) -> Broadcast:
        """This index as a broadcast of ``sc``, made once per live context.

        A task closure captures only the handle; each worker unpickles the
        index on its first ``.value`` and keeps it for its lifetime. A
        broadcast of a stopped context is never reused.
        """
        with _MEMO_LOCK:
            if self._shipped is None or self._shipped[0] is not sc:
                self._shipped = (sc, sc.broadcast(self))
            return self._shipped[1]

    def unpersist(self) -> None:
        """Drop this index's broadcast (if its context is still live)."""
        with _MEMO_LOCK:
            if self._shipped is not None:
                sc, shipped = self._shipped
                if SparkContext._active_spark_context is sc:
                    shipped.unpersist()
            self._shipped = None

    def locate(self, lon, lat):
        """(key, driving_side) arrays of points given as float64 arrays.

        The cells are encoded here with :func:`cells.encode`, the twin of
        :func:`cell_sql`; a null (NaN in numpy), NaN or infinite coordinate
        gets :data:`NO_CELL`, as ``cell_sql`` gives it a null cell.
        """
        lon, lat = np.asarray(lon, np.float64), np.asarray(lat, np.float64)
        cell = np.where(np.isfinite(lon) & np.isfinite(lat),
                        C.encode(lon, lat, self.level), NO_CELL)
        return self(cell, lon, lat)

    def __call__(self, cells_arr, lon, lat):
        valid = pd.notna(cells_arr)
        cells_arr = np.where(valid, cells_arr, 0).astype(np.int64)
        lo = np.searchsorted(self.cells, cells_arr, "left")
        n = np.where(valid, np.searchsorted(self.cells, cells_arr, "right") - lo, 0)
        # candidate pairs: point ``pt`` against covering row ``row``
        pt = np.repeat(np.arange(len(n)), n)
        row = np.arange(len(pt)) + np.repeat(lo - (np.cumsum(n) - n), n)
        codes, match = self.codes[row], self.full[row]
        edge = ~match
        match[edge] = refine(codes[edge], lon[pt[edge]], lat[pt[edge]], self.rings)
        # a point's rows run in code order: its first match is the min
        pt, codes = pt[match], codes[match]
        _, first = np.unique(pt, return_index=True)
        code = np.full(len(n), -1, dtype=np.int64)
        code[pt[first]] = codes[first]
        return self.keys[code], self.sides[code]


def _polygons_digest(polygons: dict[str, np.ndarray]) -> bytes:
    """Content digest of a polygon dict: sorted keys, each ring's shape and
    float64 bytes."""
    h = hashlib.blake2b(digest_size=16)
    for key in sorted(polygons):
        ring = np.ascontiguousarray(polygons[key], np.float64)
        h.update(repr((key, ring.shape)).encode())
        h.update(ring.tobytes())
    return h.digest()


# (content digest, level) → LocaleResolver, FIFO over a few entries
_RESOLVERS: dict[tuple[bytes, int], LocaleResolver] = {}
_RESOLVER_MEMO = 4
# guards the memo and each index's broadcast (driver threads may share them)
_MEMO_LOCK = threading.RLock()


def make_locale_resolver(polygons: dict[str, np.ndarray],
                         level: int = DEFAULT_LEVEL) -> LocaleResolver:
    """The locale index of ``polygons`` at ``level``, built once per
    content: an equal dict built anew hits the memo, an in-place ring edit
    or another level builds afresh. An evicted index's broadcast is
    unpersisted."""
    key = (_polygons_digest(polygons), level)
    with _MEMO_LOCK:
        resolver = _RESOLVERS.get(key)
        if resolver is None:
            if len(_RESOLVERS) >= _RESOLVER_MEMO:
                _RESOLVERS.pop(next(iter(_RESOLVERS))).unpersist()
            resolver = _RESOLVERS[key] = LocaleResolver(polygons, level)
        return resolver


# ---------------------------------------------------------------------------
# kNN via expanding k-ring (J4)
# ---------------------------------------------------------------------------

def knn_join(queries: DataFrame, ways: DataFrame, k: int = 1,
             level: int = DEFAULT_LEVEL, max_ring: int = 8,
             way_id: str = "way_id") -> DataFrame:
    """Exact nearest-``k`` ways per query point (reference k=1 —
    overpass.rs:222-235, expanding-radius Overpass search).

    queries: (lon, lat, and any id columns, carried to the output); ways:
    (way_id, geometry) where geometry is array<struct<lon,lat>> — the
    reference's LineString. Each query row is ranked on its own, under a
    per-row id taken before the search, so queries that share an id each
    get their own k rows. ``k`` below 1 is a ``ValueError``. A query with a
    null, NaN or infinite coordinate gets no rows, and a way with no usable
    geometry (null, empty, or a null or non-finite vertex) is never a
    candidate.

    Shape: queries explode to k-ring candidate cells (the ring doubles each
    round, only for the *unfinished* remainder), ways are indexed by the
    cells their polylines cross, the equi-join on cell yields candidates,
    a numpy point→polyline kernel computes distances, and
    ``row_number() OVER (PARTITION BY query row ORDER BY dist)`` takes k.

    Exactness: a query finishes only when its kth-best distance is within
    the ring's geometric guarantee (cells beyond Chebyshev ring r are at
    least ``r * min_cell_dim`` away), so no unseen cell can hold a closer
    way. Queries still unfinished at ``max_ring`` fall back to a brute
    force against the full way set — they are the sparse remainder, so the
    cross join is small.
    """
    if k < 1:
        raise ValueError(f"k must be at least 1: {k!r}")
    queries = queries.where(_finite_sql("lon", "lat"))
    # both the cell index and the brute-force remainder read the kept ways
    ways = ways.where(USABLE_GEOMETRY_SQL)

    from ..util import spread
    from .raster import way_cells

    # ways → (cell, way_id, geometry) index; a way appears once per cell
    # its polyline crosses (``raster.way_cells``), cached once — every expanding-ring round joins against it, and
    # re-running the covering UDF per round would dominate the loop.
    # persist (not localCheckpoint): the index has static lineage, so it
    # needs caching, not truncation — an eager checkpoint pays an extra
    # materialize+copy job up front (~1.4 s at sf0.1) for nothing.
    # Single-vertex geometries (POI sites) index JVM-side — their covering
    # IS the point's cell, so the Arrow covering stage runs only for real
    # polylines (r02 profiling: the covering UDF was ~1/3 of kNN cold time
    # on a point-site corpus).
    spread_ways = spread(ways, way_id)
    # one cheap JVM pass answers both planning questions: are there any
    # real polylines (else the Arrow covering branch is skipped — an
    # empty-but-scheduled Python stage still launches a worker per task,
    # ~1 s at 64 partitions), and how many ways there are (the density
    # seed below; a lower bound on index entries, so a sparse corpus can
    # only over-seed the ring, never under-search it)
    stats = spread_ways.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.size("geometry") > 1).cast("int")).alias("nm")).first()
    n_ways, n_multi = stats["n"], stats["nm"] or 0
    single = (spread_ways.where(F.size("geometry") <= 1)
              .withColumn("cell", F.expr(cell_sql("element_at(geometry, 1).lon",
                                                  "element_at(geometry, 1).lat",
                                                  level))))
    if n_multi == 0:
        way_index = single.select("cell", way_id, "geometry").persist()
    else:
        multi = way_cells(spread_ways.where(F.size("geometry") > 1), level)
        way_index = (single.unionByName(multi)
                     .select("cell", way_id, "geometry")
                     .persist())

    def query_cells(df: DataFrame, ring_k: int) -> DataFrame:
        # the Arrow k-ring: one batched UDF over the (small) unfinished
        # remainder; the candidates it feeds go through the Python dist
        # kernel regardless, so the ring's Arrow round-trip is a minor term
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def cells_udf(lon_s: pd.Series, lat_s: pd.Series) -> pd.Series:
            base = C.encode(lon_s.to_numpy(), lat_s.to_numpy(), level)
            drop_zip_finders()
            return pd.Series([C.k_ring(int(c), ring_k).tolist() for c in base])

        return df.withColumn("cell", F.explode(cells_udf(F.col("lon"), F.col("lat"))))

    @F.pandas_udf(T.DoubleType())
    def dist_udf(lon_s: pd.Series, lat_s: pd.Series, geom: pd.Series) -> pd.Series:
        out = np.empty(len(lon_s))
        lons = lon_s.to_numpy()
        lats = lat_s.to_numpy()
        for i, g in enumerate(geom):
            ring = np.array([[p["lon"], p["lat"]] for p in g], np.float64)
            if len(ring) == 1:
                out[i] = float(np.hypot(lons[i] - ring[0, 0], lats[i] - ring[0, 1]))
            else:
                out[i] = float(P.point_to_segment_dist(
                    np.array([lons[i]]), np.array([lats[i]]), ring)[0])
        drop_zip_finders()
        return pd.Series(out)

    min_cell_dim = 180.0 / (1 << level)  # lat extent is the tighter one

    def topk_of(cand: DataFrame) -> DataFrame:
        w = Window.partitionBy("_row").orderBy(F.col("dist").asc(),
                                               F.col(way_id).asc())
        return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k))

    # Driver-safe expanding loop (VERDICT r01 #2): finished/remaining splits
    # are semi/anti joins — never a collect()+isin() round-trip. Exactly
    # ONE eager materialization per round (the round's topk,
    # localCheckpoint'ed): the semi/anti splits stay lazy over it, so the
    # iteration lineage is flat (each round builds on checkpointed blocks,
    # max log2(max_ring) shallow joins deep) and the final union never
    # recomputes a ring. Checkpoint blocks are freed with the session.
    # the per-row id is fixed by the checkpoint, so every round sees the
    # same ids (the caller's query ids may repeat)
    remaining = queries.withColumn(
        "_row", F.monotonically_increasing_id()).localCheckpoint()
    finished_parts: list[DataFrame] = []
    # seed the ring from way density (VERDICT r02 #8): a ring whose
    # expected candidate count is under 2k can't finish a query — skip
    # those provably-thin early rings. Exactness is untouched: the
    # per-ring geometric guarantee still gates completion.
    world = 1 << level
    density = n_ways / float(world * world)
    ring_k = 1
    while (ring_k * 2 <= max_ring and ring_k * 2 < world
           and density * (2 * ring_k + 1) ** 2 < 2 * k):
        ring_k *= 2
    # the loop's answer; with no ring round, every query is left
    unfinished = True
    while ring_k <= max_ring and ring_k < world:
        cand = (query_cells(remaining, ring_k)
                .join(way_index, "cell")
                .withColumn("dist", dist_udf(F.col("lon"), F.col("lat"),
                                             F.col("geometry")))
                .drop("geometry", "cell")
                .dropDuplicates(["_row", way_id]))
        topk = topk_of(cand).localCheckpoint()
        # finished: kth best within the ring guarantee (no unseen supercover
        # cell can hold anything closer than ring_k * min_cell_dim)
        guarantee = ring_k * min_cell_dim
        done = (topk.groupBy("_row")
                .agg(F.max("dist").alias("_kth"), F.count("*").alias("_n"))
                .where((F.col("_n") >= k) & (F.col("_kth") <= guarantee))
                .select("_row"))
        finished_parts.append(topk.join(done, "_row", "left_semi"))
        remaining = remaining.join(done, "_row", "left_anti")
        unfinished = not remaining.isEmpty()
        if not unfinished:
            break
        ring_k *= 2
    if unfinished:
        # sparse remainder: exact brute force (small side crossJoin)
        brute = (F.broadcast(remaining).crossJoin(
                    ways.select(way_id, "geometry"))
                 .withColumn("dist", dist_udf(F.col("lon"), F.col("lat"),
                                              F.col("geometry")))
                 .drop("geometry")
                 .dropDuplicates(["_row", way_id]))
        finished_parts.append(topk_of(brute))
    # every surviving part sits on checkpointed topk blocks (or on `ways`
    # directly, for the brute remainder) — the cached index can go
    way_index.unpersist()
    out = finished_parts[0]
    for part in finished_parts[1:]:
        out = out.unionByName(part)
    return out.drop("_row")


# ---------------------------------------------------------------------------
# Within-radius distance join
# ---------------------------------------------------------------------------

EARTH_RADIUS_KM = 6371.0
_DEG2RAD = 0.017453292519943295  # float64(pi/180) — literal in BOTH engines

# Oracle twin of haversine_km(): interpolate the four coordinate SQL
# expressions. Every operation and its order matches the Column builder
# exactly (x * 0.017453292519943295, never RADIANS(x): Java's toRadians
# is x / 180 * pi while DuckDB multiplies by pi/180 — up to 1 ulp apart,
# which a hash compare would see).
HAVERSINE_SQL = (
    "2.0 * 6371.0 * asin(sqrt("
    "sin(({lat2} - {lat1}) * 0.017453292519943295 / 2.0)"
    " * sin(({lat2} - {lat1}) * 0.017453292519943295 / 2.0)"
    " + cos({lat1} * 0.017453292519943295)"
    " * cos({lat2} * 0.017453292519943295)"
    " * sin(({lon2} - {lon1}) * 0.017453292519943295 / 2.0)"
    " * sin(({lon2} - {lon1}) * 0.017453292519943295 / 2.0)))")


def haversine_km(lon1, lat1, lon2, lat2):
    """Great-circle distance in km as a pure-Catalyst Column.

    Fixed IEEE operation order (squares via multiplication, degree→radian
    by a literal factor) so a SQL engine replaying ``HAVERSINE_SQL``
    reproduces the double bit-for-bit up to libm's ≤1-ulp sin/cos/asin
    wiggle — far below any sane output rounding.
    """
    dlat_h = F.sin((lat2 - lat1) * F.lit(_DEG2RAD) / F.lit(2.0))
    dlon_h = F.sin((lon2 - lon1) * F.lit(_DEG2RAD) / F.lit(2.0))
    a = (dlat_h * dlat_h
         + F.cos(lat1 * F.lit(_DEG2RAD)) * F.cos(lat2 * F.lit(_DEG2RAD))
         * dlon_h * dlon_h)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def distance_join(left: DataFrame, right: DataFrame, radius_km: float,
                  *, lon: str = "lon", lat: str = "lat",
                  level: Optional[int] = None,
                  dist_col: str = "dist_km") -> DataFrame:
    """All (left, right) pairs within ``radius_km`` great-circle distance.

    The scale shape (the reference resolves near-way lookups one Overpass
    ``around`` call at a time — overpass.rs:193-242; a cluster needs the
    set-at-once join):

    1. index the right side by its home grid cell (one narrow projection);
    2. explode each left row to the cells its radius can reach — a
       *per-row* ring: ``dy`` is a constant (latitude degrees are uniform)
       while ``dx`` widens with ``1/cos(|lat| + r)`` so high-latitude rows
       scan exactly the lon band they need (x wraps modulo n across the
       antimeridian; y clamps at the poles — correct while
       ``radius < (90° − max|lat|) · 111 km``, i.e. no cross-pole pairs);
    3. ONE cell equi-join (no crossJoin anywhere), then the exact
       haversine filter. Candidate factor = ring area / cell area ≈ 9-25
       for radius ≈ cell size; AQE's skew split handles dense city cells.

    Everything is whole-stage-codegen'd Catalyst (bit-spread cell encode,
    HOF ring build, haversine) — no Python in the path. Both coordinate
    columns must be named ``lon``/``lat``-as-passed on BOTH inputs; other
    column collisions are the caller's to alias. Output = left columns +
    right columns (minus the right's coordinates) + ``dist_col``.

    ``level`` defaults to a grid whose cell height ≈ radius/4: the ring
    then hugs the disc (candidate overshoot ≈ 2× the true-bounding-box
    instead of the up-to-14× a radius-sized cell costs — measured on the
    800 km self-join: ring 2278 deg² vs 163 deg² disc at the coarse
    default). The explode fan-out grows to ~45-120 cells/row, but those
    are narrow pre-join rows; the candidate rows they prune are wide
    post-join rows (guide §2.3 — shuffle fewer bytes). Pass a coarser
    level to trade back when samples are sparse.
    """
    if radius_km <= 0:
        raise ValueError(f"radius_km must be positive: {radius_km!r}")
    r_deg = radius_km / EARTH_RADIUS_KM * (180.0 / np.pi)
    if level is None:
        level = max(1, min(14, int(np.floor(np.log2(180.0 / r_deg))) + 2))
    n = 1 << level
    cell_h = 180.0 / n
    cell_w = 360.0 / n
    dy = int(r_deg / cell_h) + 1

    from ..util import spread as _spread
    # spread the right side as well: when the planner broadcasts the
    # exploded LEFT (BuildLeft — observed on the idw shape), the right
    # side is the streamed one, and a single-row-group scan would run
    # the whole probe+haversine pass on one task (37 s of 54 s at
    # sf1.0). No-op once the input has real parallelism.
    right_idx = (_spread(right, lon)
                 .withColumnRenamed(lon, "__rlon")
                 .withColumnRenamed(lat, "__rlat")
                 .withColumn("__cell", F.expr(cell_sql("__rlon", "__rlat", level))))

    # per-row lon ring width: the partner's latitude is at most r_deg
    # further poleward, so bound cos by the worst latitude in reach
    phi_w = F.least(F.abs(F.col(lat)) + F.lit(r_deg), F.lit(89.9))
    dx = F.least(
        F.floor(F.lit(r_deg) / (F.cos(phi_w * F.lit(_DEG2RAD))
                                * F.lit(cell_w))).cast("int") + F.lit(1),
        F.lit(n // 2))
    # spread the left side before the ring explode: a single-row-group
    # parquet scan is ONE task, and everything from the explode through
    # the cell join and haversine filter inherits that parallelism
    # (guide §2.5/§6.1). No-op once input partitions ≥ the session's
    # default parallelism (the 100 TB case).
    base = (_spread(left, lon)
            .withColumn("__x", F.expr(grid_sql(lon, 180.0, 360.0, level)))
            .withColumn("__y", F.expr(grid_sql(lat, 90.0, 180.0, level)))
            .withColumn("__dx", dx))
    # x wraps (antimeridian), y clamps (poles); array_distinct collapses
    # the duplicates both produce at the caps
    xs = f"transform(sequence(-__dx, __dx), d -> pmod(__x + d, {n}L))"
    ys = (f"transform(sequence({-dy}, {dy}),"
          f" d -> least(greatest(__y + d, 0L), {n - 1}L))")
    cells = F.expr(f"array_distinct(flatten(transform({xs}, xx -> "
                   f"transform({ys}, yy -> {xy_cell_sql('xx', 'yy', level)}))))")
    cand = (base.withColumn("__cell", F.explode(cells))
            .drop("__x", "__y", "__dx")
            .join(right_idx, "__cell")
            .drop("__cell"))
    d = haversine_km(F.col(lon), F.col(lat),
                     F.col("__rlon"), F.col("__rlat"))
    return (cand.withColumn(dist_col, d)
            .where(F.col(dist_col) <= F.lit(float(radius_km)))
            .drop("__rlon", "__rlat"))
