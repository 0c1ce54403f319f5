"""Inverse-distance-weighted (IDW) spatial interpolation.

The raster⟷vector family's third member (next to `rasterize_zonal` and
the distance join): estimate a continuous field at query points from
scattered samples — speed-limit surfaces from probe vehicles, elevation
onto ways, signal quality onto POIs. The reference has no interpolation
(it consumes point lookups from Overpass — overpass.rs:147-242); this is
engine-side capability for the spatial tier.

Scale shape (100 TB): one grid-cell ring equi-join (`joins.distance_join`
— no cross product), then ONE map-side-combined aggregate keyed on the
query point id. No window, no driver loop; skewed dense-sample cells ride
AQE's skew split exactly like the distance join itself.

Engine-exact math: IEEE summation isn't associative, so a float
`sum(w*v)` differs across engines/partitionings in the last ulps. Both
weight and value are quantized to integers (order-exact sums below 2^53)
and the final ratio is rounded — the idiom the revenue/centroid queries
already use. Weights are `W_SCALE / max(d, floor_km)^2` (classic IDW
power=2); the floor keeps the weight finite when a sample sits exactly on
a query point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .joins import distance_join

W_SCALE = 1_000_000          # weight quantum: w_int = round(1e6 / d^2)
V_SCALE = 1_000_000          # value quantum: v_int = round(v * 1e6)
D_FLOOR_KM = 1.0             # distance clamp (collocated sample)


def idw_interpolate(points: DataFrame, samples: DataFrame,
                    radius_km: float, *, id_col: str = "id") -> DataFrame:
    """IDW estimate of ``samples["value"]`` at every point of
    ``points`` that has ≥1 sample within ``radius_km``.

    ``points``: (id_col, lon, lat); ``samples``: (lon, lat, value).
    Output: (id_col, n_samples, idw_value) with idw_value rounded to 6
    decimals — bit-stable across engines and partitionings because both
    sums are integer sums.
    """
    pts = points.select(F.col(id_col), "lon", "lat")
    smp = samples.select(F.col("lon").alias("__slon"),
                         F.col("lat").alias("__slat"),
                         F.col("value").alias("__sval"))
    # distance_join requires equal coordinate names on both sides
    smp = smp.select(F.col("__slon").alias("lon"),
                     F.col("__slat").alias("lat"), "__sval")
    cand = distance_join(pts, smp, radius_km)
    d_clamped = F.greatest(F.col("dist_km"), F.lit(D_FLOOR_KM))
    wq = F.round(F.lit(float(W_SCALE)) / (d_clamped * d_clamped)) \
        .cast("long")
    vq = F.round(F.col("__sval") * F.lit(float(V_SCALE))).cast("long")
    return (cand
            .select(F.col(id_col), wq.alias("__wq"), vq.alias("__vq"))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_samples"),
                 F.sum(F.col("__wq") * F.col("__vq")).alias("__num"),
                 F.sum("__wq").alias("__den"))
            .select(F.col(id_col), "n_samples",
                    F.round(F.col("__num").cast("double")
                            / F.col("__den").cast("double")
                            / F.lit(float(V_SCALE)), 6).alias("idw_value")))


def idw_oracle_sql(points_cte: str, samples_cte: str, radius_km: float,
                   hav_sql: str, id_col: str = "id") -> str:
    """DuckDB replay: brute-force the radius predicate with the identical
    fixed-op-order haversine (``hav_sql`` interpolated over p./s. lon
    lat), then the same quantized integer sums. ``points_cte`` /
    ``samples_cte`` must expose (id, lon, lat) / (lon, lat, value)."""
    return f"""
        WITH p AS ({points_cte}), s AS ({samples_cte}),
        cand AS (
            SELECT p.{id_col} AS {id_col}, s.value AS v, {hav_sql} AS d
            FROM p JOIN s ON {hav_sql} <= {radius_km!r}),
        q AS (
            SELECT {id_col},
                   CAST(round({float(W_SCALE)!r}
                        / (greatest(d, {D_FLOOR_KM!r})
                           * greatest(d, {D_FLOOR_KM!r}))) AS BIGINT) AS wq,
                   CAST(round(v * {float(V_SCALE)!r}) AS BIGINT) AS vq
            FROM cand)
        SELECT {id_col}, count(*) AS n_samples,
               round(CAST(sum(wq * vq) AS DOUBLE)
                     / CAST(sum(wq) AS DOUBLE)
                     / {float(V_SCALE)!r}, 6) AS idw_value
        FROM q GROUP BY {id_col}
    """
