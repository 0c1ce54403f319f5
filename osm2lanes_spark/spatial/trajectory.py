"""Trajectory (ordered point-sequence) operators.

Per-entity GPS traces — probe vehicles, user check-in streams — as
(entity, ts, lon, lat) rows. `trajectory_summary` rolls a whole trace
into path length, net displacement and straightness; `trip_segments`
cuts traces into trips at time gaps and implausible jumps.
The reference models ways as static geometry (no motion — its geometry
handling stops at way node lists, overpass.rs:147-242); trajectories are
engine-side capability for the spatial tier (map-matching precursors,
anomalous-track filters for training-data curation).

Scale shape (100 TB): ONE shuffle keyed on the entity (the lag window
and the summary aggregate share it); everything else is codegen'd column
arithmetic — no Python, no second exchange. Skewed mega-entities (one
device with millions of pings) are the caller's salting decision; the
window itself is per-entity sequential by definition.

Engine-exact math: step distance reuses the fixed-op-order haversine
(`joins.HAVERSINE_SQL`), replayable in DuckDB to the last printed digit.
Summary sums quantize step distances to integers first (order-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .joins import haversine_km

D_SCALE = 1_000_000           # km quantum for order-exact path sums


def trajectory_summary(traces: DataFrame, *, entity: str = "entity",
                       tiebreak: str | None = None) -> DataFrame:
    """Per-entity roll-up of the ``ts``-ordered trace: n_points, path_km
    (sum of steps), net_km (first→last point), straightness = net/path
    (1.0 for ≤1 step).

    One entity-keyed shuffle: the lag window computes steps AND marks the
    first/last coordinates (first_value/last_value over the same window
    frame); the aggregate that follows reuses the partitioning, so the
    whole summary is a single exchange. Path sums quantize to integers
    (`D_SCALE`) — engine- and partitioning-order exact.
    """
    keys = ["ts"] + ([tiebreak] if tiebreak else [])
    w = Window.partitionBy(entity).orderBy(*[F.col(k) for k in keys])
    wfull = (Window.partitionBy(entity)
             .orderBy(*[F.col(k) for k in keys])
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    step = haversine_km(F.lag("lon").over(w), F.lag("lat").over(w),
                        F.col("lon"), F.col("lat"))
    stepq = F.coalesce(
        F.round(step * F.lit(float(D_SCALE))).cast("long"), F.lit(0))
    marked = (traces
              .withColumn("__stepq", stepq)
              .withColumn("__flon", F.first("lon").over(wfull))
              .withColumn("__flat", F.first("lat").over(wfull))
              .withColumn("__llon", F.last("lon").over(wfull))
              .withColumn("__llat", F.last("lat").over(wfull)))
    agg = (marked.groupBy(entity)
           .agg(F.count(F.lit(1)).alias("n_points"),
                F.sum("__stepq").alias("__pathq"),
                F.min("__flon").alias("__flon"),
                F.min("__flat").alias("__flat"),
                F.min("__llon").alias("__llon"),
                F.min("__llat").alias("__llat")))
    path_km = F.round(F.col("__pathq").cast("double")
                      / F.lit(float(D_SCALE)), 6)
    net_km = F.round(haversine_km(F.col("__flon"), F.col("__flat"),
                                  F.col("__llon"), F.col("__llat")), 6)
    return (agg.select(F.col(entity), "n_points",
                       path_km.alias("path_km"), net_km.alias("net_km"))
            .withColumn("straightness",
                        F.when(F.col("path_km") > 0,
                               F.round(F.col("net_km")
                                       / F.col("path_km"), 6))
                        .otherwise(F.lit(1.0))))


def trip_segments(traces: DataFrame, *, gap_minutes: float = 30.0,
                  jump_km: float = 500.0, entity: str = "entity",
                  tiebreak: str | None = None) -> DataFrame:
    """Trip segmentation: split each entity's trace into trips wherever
    the time gap exceeds ``gap_minutes`` OR the step length exceeds
    ``jump_km`` (teleport = data glitch or untracked transit), then roll
    up per trip — the staypoint/trip-detection primitive of GPS
    pipelines (and the spatial twin of `temporal.sessionize`, which cuts
    on time alone).

    trip_id = running count of break flags (first point breaks), so ids
    are 1..n_trips per entity, deterministic under the (ts, tiebreak)
    sort. One entity-keyed exchange: the lag window, the running count,
    and the per-(entity, trip) aggregate all share the partitioning.
    Output: entity, trip_id, n_points, path_km (integer-quantized sum),
    start_ts, end_ts.
    """
    keys = ["ts"] + ([tiebreak] if tiebreak else [])
    w = Window.partitionBy(entity).orderBy(*[F.col(k) for k in keys])
    step = haversine_km(F.lag("lon").over(w), F.lag("lat").over(w),
                        F.col("lon"), F.col("lat"))
    prev_ts = F.lag("ts").over(w)
    # NTZ timestamps refuse a direct long cast; the timestamp hop pins
    # epoch seconds in the session zone (UTC), matching DuckDB's epoch()
    secs = F.col("ts").cast("timestamp").cast("long")
    prev_secs = prev_ts.cast("timestamp").cast("long")
    gap_break = secs - prev_secs > F.lit(int(gap_minutes * 60))
    is_break = F.when(prev_ts.isNull(), F.lit(1)).otherwise(
        F.when(gap_break | (step > F.lit(float(jump_km))), F.lit(1))
        .otherwise(F.lit(0)))
    run = Window.partitionBy(entity).orderBy(*[F.col(k) for k in keys]) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepq = F.coalesce(
        F.round(step * F.lit(float(D_SCALE))).cast("long"), F.lit(0))
    marked = (traces
              .withColumn("__brk", is_break)
              .withColumn("__trip", F.sum("__brk").over(run))
              # a break step belongs to NO trip: zero the distance that
              # crosses the cut so a trip's path is internal only
              .withColumn("__stepq",
                          F.when(F.col("__brk") == 1, F.lit(0))
                          .otherwise(stepq)))
    return (marked.groupBy(entity, F.col("__trip").alias("trip_id"))
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.round(F.sum("__stepq").cast("double")
                         / F.lit(float(D_SCALE)), 6).alias("path_km"),
                 F.min("ts").alias("start_ts"),
                 F.max("ts").alias("end_ts")))
