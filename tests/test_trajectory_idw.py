"""Unit tests: trajectory summary/segments, IDW interpolation, cluster stats."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _hav_np(lon1, lat1, lon2, lat2):
    lon1, lat1, lon2, lat2 = map(np.radians, (lon1, lat1, lon2, lat2))
    a = (np.sin((lat2 - lat1) / 2) ** 2
         + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2)
    return 2 * 6371.0 * np.arcsin(np.sqrt(a))


def test_trajectory_summary_straight_line(spark):
    from osm2lanes_spark.spatial.trajectory import trajectory_summary

    # equatorial eastward march: path == net, straightness == 1
    pdf = pd.DataFrame({"entity": [1] * 5, "ts": range(5),
                        "lon": [0.0, 1.0, 2.0, 3.0, 4.0],
                        "lat": [0.0] * 5})
    [row] = trajectory_summary(spark.createDataFrame(pdf)).collect()
    assert row["n_points"] == 5
    assert row["path_km"] == pytest.approx(row["net_km"], abs=2e-6)
    assert row["straightness"] == pytest.approx(1.0, abs=1e-5)


def test_trajectory_summary_single_point(spark):
    from osm2lanes_spark.spatial.trajectory import trajectory_summary

    pdf = pd.DataFrame({"entity": [7], "ts": [0],
                        "lon": [10.0], "lat": [10.0]})
    [row] = trajectory_summary(spark.createDataFrame(pdf)).collect()
    assert (row["n_points"], row["path_km"], row["net_km"],
            row["straightness"]) == (1, 0.0, 0.0, 1.0)


def test_idw_matches_manual(spark):
    from osm2lanes_spark.spatial.interpolate import (D_FLOOR_KM, V_SCALE,
                                                     W_SCALE,
                                                     idw_interpolate)

    pts = spark.createDataFrame(pd.DataFrame(
        {"id": [1, 2], "lon": [0.0, 90.0], "lat": [0.0, 0.0]}))
    smp_pdf = pd.DataFrame({
        "lon": [0.5, 1.0, -1.0, 170.0],
        "lat": [0.0, 0.5, -0.5, 0.0],
        "value": [10.0, 20.0, 30.0, 99.0],
    })
    smp = spark.createDataFrame(smp_pdf)
    out = {r["id"]: (r["n_samples"], r["idw_value"])
           for r in idw_interpolate(pts, smp, 300.0).collect()}
    # point 2 has no sample within 300 km → absent
    assert set(out) == {1}
    d = _hav_np(smp_pdf["lon"].to_numpy()[:3], smp_pdf["lat"].to_numpy()[:3],
                0.0, 0.0)
    wq = np.round(W_SCALE / np.maximum(d, D_FLOOR_KM) ** 2).astype(np.int64)
    vq = np.round(smp_pdf["value"].to_numpy()[:3] * V_SCALE).astype(np.int64)
    exp = round(float((wq * vq).sum()) / float(wq.sum()) / V_SCALE, 6)
    assert out[1] == (3, pytest.approx(exp, abs=1e-9))


def test_cluster_stats_small(spark):
    from osm2lanes_spark.spatial.clustering import cluster_stats

    pts = spark.createDataFrame(pd.DataFrame(
        {"id": [1, 2, 3, 4], "lon": [0.0, 1.0, 2.0, 50.0],
         "lat": [0.0, 1.0, 2.0, 50.0]}))
    labels = spark.createDataFrame(pd.DataFrame(
        {"id": [1, 2, 3, 4], "cluster_id": [1, 1, 1, 4],
         "is_core": [True, True, False, True]}))
    out = {r["cluster_id"]: r.asDict()
           for r in cluster_stats(pts, labels).collect()}
    c1 = out[1]
    assert (c1["n_points"], c1["n_core"]) == (3, 2)
    assert (c1["min_lon"], c1["max_lon"]) == (0.0, 2.0)
    assert c1["ctr_lon"] == pytest.approx(1.0)
    assert c1["ctr_lat"] == pytest.approx(1.0)
    assert out[4]["n_points"] == 1


def test_trip_segments_gap_and_jump_cuts(spark):
    from osm2lanes_spark.spatial.trajectory import trip_segments

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        # trip 1: three close points, minutes apart
        (1, base, 0.0, 0.0),
        (1, base + pd.Timedelta(minutes=5), 0.1, 0.0),
        (1, base + pd.Timedelta(minutes=10), 0.2, 0.0),
        # gap cut: 2 hours silence → trip 2
        (1, base + pd.Timedelta(hours=2, minutes=30), 0.3, 0.0),
        # jump cut: teleport 90° away minutes later → trip 3
        (1, base + pd.Timedelta(hours=2, minutes=35), 90.0, 0.0),
        (1, base + pd.Timedelta(hours=2, minutes=40), 90.1, 0.0),
    ]
    pdf = pd.DataFrame(rows, columns=["entity", "ts", "lon", "lat"])
    out = {r["trip_id"]: (r["n_points"], r["path_km"]) for r in
           trip_segments(spark.createDataFrame(pdf), gap_minutes=30.0,
                         jump_km=500.0).collect()}
    assert sorted(out) == [1, 2, 3]
    assert out[1][0] == 3 and out[1][1] > 20  # two ~11 km steps
    assert out[2] == (1, 0.0)
    assert out[3][0] == 2
    # the cross-cut teleport distance is NOT charged to trip 3
    assert out[3][1] < 20
