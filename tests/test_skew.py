"""Skew handling: containment join under a hot cell + skew_report."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from osm2lanes_spark.fixtures import geography as G
from osm2lanes_spark.plans import lineage as L
from osm2lanes_spark.spatial.joins import containment_join


@pytest.mark.lane_engine
def test_map_join_under_hot_cell(spark):
    """90% of points pile into one city-sized spot (hot cell); the default
    ``map`` strategy must still resolve all of them correctly, and with no
    shuffle at all, so no reducer can be pinned by the hot cell."""
    cx, cy = G.country_centroid("NL")
    rows = []
    for i in range(2000):
        if i % 10 == 0:  # 10% spread over the polygon
            x, y = G.doc_point(f"d{i}", "NL")
        else:  # 90% in one ~100m spot
            x, y = cx + 0.001 + (i % 7) * 1e-5, cy - 0.002 + (i % 5) * 1e-5
        rows.append((f"d{i}", float(x), float(y)))
    pts = spark.createDataFrame(rows, "doc_id string, lon double, lat double")
    out = containment_join(pts, {"NL": G.country_polygon("NL")}, level=12)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    keys = out.groupBy("key").count().collect()
    assert [(r["key"], r["count"]) for r in keys] == [("NL", 2000)]


@pytest.mark.checkpoint
def test_skew_report_flags_hot_partition(spark, tmp_path):
    # build a frame where one partition holds ~10x the median rows
    big = spark.range(10000).withColumn("k", F.lit(0))
    small = spark.range(10).withColumn("k", (F.col("id") % 9 + 1).cast("int"))
    skewed = big.unionByName(small).repartition(10, "k")
    path = str(tmp_path / "skewed")
    L.write_checkpoint(skewed, path)
    rep = L.skew_report(path, factor=4.0)
    assert rep["max"] >= 10000
    assert rep["skewed"], "hot partition must be flagged"
