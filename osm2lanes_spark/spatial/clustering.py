"""Density-based spatial clustering (DBSCAN) over point columns.

A distributed DBSCAN from the two primitives the engine already trusts:
the grid-accelerated within-radius join (`joins.distance_join` — one cell
equi-join, no crossJoin) for the ε-neighborhood graph, and the
pointer-jumping min-label components of `operators.dedup` for the
core-core reachability closure. The reference has no clustering of its
own (spatial lookups delegate to Overpass — overpass.rs:147-242); this is
engine-side capability per the LLM-pipeline mandate (spatial grouping of
ways/POIs before per-area processing).

Scale story (100 TB): the neighbor join shuffles once on grid cells;
degree and core flags are one map-side-combined aggregate; components
converge in O(log diameter) rounds of equi-join + min-agg; the border
assignment is one more equi-join. No step is quadratic — the only
density-dependent cost is the candidate factor of the ε-cell join, which
AQE skew-splits for dense metros.

Determinism: cluster_id = the minimum core point id of the component
(the canonical survivor-key idiom), and border points take the MINIMUM
label among their core neighbors — classic DBSCAN leaves border
assignment order-dependent; the min rule makes it replayable by any
engine (the DuckDB oracle replays it with a recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import connected_components
from .joins import distance_join


def dbscan(points: DataFrame, eps_km: float, min_pts: int,
           id_col: str = "id") -> DataFrame:
    """DBSCAN labels: ``(id_col, cluster_id, is_core)`` for every
    non-noise ``(lon, lat)`` point.

    ``min_pts`` counts the point itself (scikit-learn semantics): a core
    point has ≥ ``min_pts`` points within ``eps_km`` including itself.
    Border points (non-core within ε of a core) join the minimum-labelled
    neighboring core's cluster; noise points are absent from the output.
    """
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1: {min_pts!r}")
    from ..util import tracked_checkpoint, unpersist_blocks

    pts = points.select(F.col(id_col), "lon", "lat")
    left = pts.select(F.col(id_col).alias("__a"), "lon", "lat")
    right = pts.select(F.col(id_col).alias("__b"), "lon", "lat")
    # ordered neighbor pairs (a ≠ b), both directions — one grid join.
    # EAGER checkpoint: nbrs feeds deg, core_edges AND border, so without
    # a LogicalRDD cut the distance-join subtree appears 3+ times in one
    # plan and Catalyst's sizeInBytes products compound doubly-
    # exponentially across the nested joins (BigInteger OOM, observed).
    nbrs, nbrs_ids = tracked_checkpoint(
        distance_join(left, right, eps_km)
        .where(F.col("__a") != F.col("__b"))
        .select("__a", "__b"))
    deg = (nbrs.groupBy("__a")
           .agg((F.count(F.lit(1)) + F.lit(1)).alias("__deg")))
    cores = (deg.where(F.col("__deg") >= F.lit(min_pts))
             .select(F.col("__a").alias("__core")))

    if min_pts <= 2:
        # every edge endpoint is core (deg ≥ 2 incl. self ⇒ core):
        # components over the raw edges, all members core
        comp = connected_components(nbrs, left="__a", right="__b",
                                    symmetric=True)
        singles = (pts.join(deg, pts[id_col] == deg["__a"], "left_anti")
                   if min_pts == 1 else None)
        out = comp.select(F.col("id").alias(id_col),
                          F.col("component").alias("cluster_id"),
                          F.lit(True).alias("is_core"))
        if singles is not None:
            out = out.unionByName(
                singles.select(F.col(id_col),
                               F.col(id_col).alias("cluster_id"),
                               F.lit(True).alias("is_core")))
        # materialize the (small) label frame, then free the ε-graph
        # blocks — the largest intermediate — instead of leaving them in
        # block storage until plan GC (ADVICE r06; the r04 #5 pattern)
        out, _ = tracked_checkpoint(out)
        unpersist_blocks(points.sparkSession, nbrs_ids)
        return out

    # broadcast the core-id side: it is bounded by DISTINCT POINTS
    # (8-byte ids), while the side it gates is the ε-graph — points ×
    # average degree rows. Shuffling the edge relation twice to avoid
    # broadcasting the point-bounded set has the cost ratio backwards
    # (measured at sf1.0: 2 × 13M-edge exchanges vs a 50k-id broadcast;
    # guide §3.1). Beyond ~10^8 points the broadcast would need the
    # planner's shuffle path again — at that scale revisit with a Bloom
    # filter over core ids (§3.2), which this join shape accepts
    # unchanged.
    core_edges = (nbrs
                  .join(F.broadcast(cores.withColumnRenamed("__core",
                                                            "__a")),
                        "__a", "left_semi")
                  .join(F.broadcast(cores.withColumnRenamed("__core",
                                                            "__b")),
                        "__b", "left_semi"))
    # isolated cores (no core neighbor) are their own cluster
    comp = (connected_components(core_edges, left="__a", right="__b",
                                 symmetric=True)
            if not core_edges.isEmpty() else None)
    iso = (cores.join(core_edges.select(F.col("__a").alias("__core"))
                      .distinct(), "__core", "left_anti")
           .select(F.col("__core").alias("id"),
                   F.col("__core").alias("component")))
    labels = iso if comp is None else comp.unionByName(iso)
    core_lab = labels.select(F.col("id").alias(id_col),
                             F.col("component").alias("cluster_id"),
                             F.lit(True).alias("is_core"))
    # same points-vs-edges asymmetry: label and core-id tables are
    # point-bounded, the probe side is the edge relation — broadcast
    # the small sides so the border pass is map-side + one partial-
    # combined aggregate instead of a full edge shuffle
    border = (nbrs
              .join(F.broadcast(core_lab.select(
                  F.col(id_col).alias("__b"), "cluster_id")), "__b")
              .join(F.broadcast(cores.withColumnRenamed("__core",
                                                        "__a")),
                    "__a", "left_anti")
              .groupBy("__a")
              .agg(F.min("cluster_id").alias("cluster_id"))
              .select(F.col("__a").alias(id_col), "cluster_id",
                      F.lit(False).alias("is_core")))
    # materialize the (small) label frame, then free the ε-graph blocks
    # — the largest intermediate — instead of leaving them in block
    # storage until plan GC (ADVICE r06; the r04 #5 leak pattern). The
    # eager checkpoint does the same work the caller's first action
    # would, and the downstream cluster_stats join reads a flat leaf.
    out, _ = tracked_checkpoint(core_lab.unionByName(border))
    unpersist_blocks(points.sparkSession, nbrs_ids)
    return out


C_SCALE = 1_000_000  # coordinate quantum for order-exact centroid sums


def cluster_stats(points: DataFrame, labels: DataFrame,
                  id_col: str = "id") -> DataFrame:
    """Zonal roll-up of :func:`dbscan` output: per cluster, the member /
    core counts, bounding box, and centroid.

    ``points`` = (id_col, lon, lat); ``labels`` = dbscan's
    (id_col, cluster_id, is_core). One equi-join on the point id + one
    map-side-combined aggregate on cluster_id — the DBSCAN→zonal-stats
    composition (per-metro corpus profiling before per-area processing).
    Centroids quantize coordinates to integers before summing
    (order-exact below 2^53), then round — the engine-exact mean idiom.
    """
    j = labels.join(points.select(F.col(id_col), "lon", "lat"), id_col)
    lonq = F.round(F.col("lon") * F.lit(float(C_SCALE))).cast("long")
    latq = F.round(F.col("lat") * F.lit(float(C_SCALE))).cast("long")
    return (j.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum(F.col("is_core").cast("long")).alias("n_core"),
                 F.min("lon").alias("min_lon"),
                 F.max("lon").alias("max_lon"),
                 F.min("lat").alias("min_lat"),
                 F.max("lat").alias("max_lat"),
                 F.sum(lonq).alias("__slon"),
                 F.sum(latq).alias("__slat"))
            .select("cluster_id", "n_points", "n_core",
                    "min_lon", "max_lon", "min_lat", "max_lat",
                    F.round(F.col("__slon").cast("double")
                            / F.col("n_points").cast("double")
                            / F.lit(float(C_SCALE)), 6).alias("ctr_lon"),
                    F.round(F.col("__slat").cast("double")
                            / F.col("n_points").cast("double")
                            / F.lit(float(C_SCALE)), 6).alias("ctr_lat")))
