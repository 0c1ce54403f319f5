"""Raster ↔ vector: per-tile rasterization and zonal joins.

North-rule requirement with no reference counterpart (design freedom):
a raster layer (e.g. a speed-limit or population grid) is materialized as
rows of ``(cell, value)`` at a fixed level — the relational encoding of a
tile — and joined back to vector ways by cell equi-join, aggregating over
each way's covered cells. All shuffle-side logic is plain Spark; only the
way covering (``cells.cover_polyline``) is a numpy kernel.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import drop_zip_finders
from . import cells as C


def rasterize_points(points: DataFrame, value_col: str, level: int,
                     agg: str = "avg") -> DataFrame:
    """Aggregate point values into a raster of (cell, value) tiles.

    One shuffle (groupBy cell) with map-side partial aggregation.
    """
    from .joins import with_cell

    agg_fn = {"avg": F.avg, "max": F.max, "min": F.min, "sum": F.sum}[agg]
    return (with_cell(points, level)
            .groupBy("cell")
            .agg(agg_fn(value_col).alias("value"),
                 F.count(F.lit(1)).alias("n_points")))


def way_cells(ways: DataFrame, level: int) -> DataFrame:
    """Explode each way into the distinct cells its ``geometry``
    polyline crosses (``cells.cover_polyline``); the kNN join's way
    index too."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cells_udf(geom: pd.Series) -> pd.Series:
        out = []
        for g in geom:
            pts = np.array([[p["lon"], p["lat"]] for p in g], np.float64)
            out.append(C.cover_polyline(pts, level).tolist())
        drop_zip_finders()
        return pd.Series(out)

    return ways.withColumn("cell", F.explode(cells_udf(F.col("geometry"))))


def zonal_join(ways: DataFrame, raster: DataFrame, level: int,
               broadcast_raster: bool = False) -> DataFrame:
    """Zonal statistics: per ``way_id``, the max raster ``value`` over
    its cells (``zonal_max``) and their count.

    ``raster`` must be keyed by cells at the same ``level``. With
    ``broadcast_raster`` the tile side is broadcast (small rasters);
    otherwise a plain shuffled equi-join (AQE handles skew). A way with no
    usable geometry (null, empty, or a null or non-finite vertex) gets no
    row, as in the kNN join.
    """
    from .joins import USABLE_GEOMETRY_SQL

    r = F.broadcast(raster) if broadcast_raster else raster
    wc = way_cells(
        ways.where(USABLE_GEOMETRY_SQL).select("way_id", "geometry"), level)
    return (wc.join(r, "cell")
            .groupBy("way_id")
            .agg(F.max("value").alias("zonal_max"),
                 F.count(F.lit(1)).alias("n_cells")))


def focal_sum(raster: DataFrame, width: int, height: int,
              k: int = 1) -> DataFrame:
    """Focal (moving-window) sum: for every populated ``(x, y)`` cell,
    the sum of ``value`` over its (2k+1)² neighborhood — the relational
    form of a raster convolution with a box kernel (smoothed heat maps,
    density surfaces before thresholding).

    Scatter formulation: each source cell explodes to the ≤(2k+1)²
    target cells its value contributes to (clipped at the raster edge —
    planar semantics, no wrap), then ONE map-side-combined groupBy on
    the target sums contributions. A gather via self-join would shuffle
    the raster twice; the scatter is a single exchange and the explode
    fan-out is the kernel size, a constant.

    Output: (x, y, focal, n_nbrs) over cells reached by ≥1 source —
    focal is exact whenever ``value`` is integral (quantize floats
    first: order-exact integer sums).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0: {k!r}")
    offs = F.sequence(F.lit(-k), F.lit(k))
    targets = F.filter(
        F.flatten(F.transform(
            offs, lambda dx: F.transform(
                offs, lambda dy: F.struct(
                    (F.col("x") + dx).alias("tx"),
                    (F.col("y") + dy).alias("ty"))))),
        lambda t: (t["tx"] >= 0) & (t["tx"] < width)
        & (t["ty"] >= 0) & (t["ty"] < height))
    return (raster
            .select(F.explode(targets).alias("__t"), F.col("value"))
            .groupBy(F.col("__t")["tx"].alias("x"),
                     F.col("__t")["ty"].alias("y"))
            .agg(F.sum("value").alias("focal"),
                 F.count(F.lit(1)).alias("n_nbrs")))


def raster_peaks(raster: DataFrame, width: int, height: int,
                 k: int = 1) -> DataFrame:
    """Local maxima: populated ``(x, y)`` cells whose ``value`` is
    strictly greater than every populated neighbor in their (2k+1)²−1
    ring — non-maximum suppression, the peak-extraction step after focal
    smoothing (hotspot detection over density surfaces).

    Same scatter shape as :func:`focal_sum` but excluding the center
    offset and aggregating max: each cell scatters its value to its
    neighbors, one regroup computes every cell's neighbor-max, and an
    equi-join back to the raster keeps cells above it. Cells with no
    populated neighbor are peaks by definition (left join, null-safe
    compare). Ties (equal neighbor) suppress BOTH cells — the strict
    inequality is what makes the result orientation-independent.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k!r}")
    offs = F.sequence(F.lit(-k), F.lit(k))
    targets = F.filter(
        F.flatten(F.transform(
            offs, lambda dx: F.transform(
                offs, lambda dy: F.struct(
                    (F.col("x") + dx).alias("tx"),
                    (F.col("y") + dy).alias("ty"))))),
        lambda t: (t["tx"] >= 0) & (t["tx"] < width)
        & (t["ty"] >= 0) & (t["ty"] < height)
        & ~((t["tx"] == F.col("x")) & (t["ty"] == F.col("y"))))
    nbr_max = (raster
               .select(F.explode(targets).alias("__t"), F.col("value"))
               .groupBy(F.col("__t")["tx"].alias("x"),
                        F.col("__t")["ty"].alias("y"))
               .agg(F.max("value").alias("__nbr_max")))
    return (raster.join(nbr_max, ["x", "y"], "left")
            .where(F.col("__nbr_max").isNull()
                   | (F.col("value") > F.col("__nbr_max")))
            .select("x", "y", "value"))
