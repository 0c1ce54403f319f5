"""Spark schemas for the engine's tables.

The engine's input is interleaved text+media documents: ``doc_id string``
plus ``spans array<struct<kind:string, text:string, media_ref:string,
offset:int>>`` (read by :mod:`osm2lanes_spark.operators.span_assembly`).

- ``ROAD_SCHEMA``: the transform output; mirrors the reference's serde JSON
  shape (`/root/reference/osm2lanes/src/road/lane.rs:8-40`,
  ``data/spec-lanes.json``) as nested Spark structs; optional fields are
  nullable.
"""

from __future__ import annotations

from pyspark.sql import types as T

ACCESS_AND_DIRECTION = T.StructType([
    T.StructField("access", T.StringType()),
    T.StructField("direction", T.StringType()),
])

ACCESS_BY_TYPE = T.StructType([
    T.StructField("foot", ACCESS_AND_DIRECTION),
    T.StructField("bicycle", ACCESS_AND_DIRECTION),
    T.StructField("taxi", ACCESS_AND_DIRECTION),
    T.StructField("bus", ACCESS_AND_DIRECTION),
    T.StructField("motor", ACCESS_AND_DIRECTION),
])

MARKING_TYPE = T.StructType([
    T.StructField("style", T.StringType()),
    T.StructField("width", T.DoubleType()),
    T.StructField("color", T.StringType()),
])

SPEED_TYPE = T.StructType([
    T.StructField("unit", T.StringType()),
    T.StructField("value", T.DoubleType()),
])

LANE_TYPE = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("direction", T.StringType()),
    T.StructField("designated", T.StringType()),
    T.StructField("width", T.DoubleType()),
    T.StructField("max_speed", SPEED_TYPE),
    T.StructField("access", ACCESS_BY_TYPE),
    T.StructField("semantic", T.StringType()),
    T.StructField("markings", T.ArrayType(MARKING_TYPE)),
])

ROAD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("name", T.StringType()),
    T.StructField("ref", T.StringType()),
    T.StructField("highway", T.StringType()),
    T.StructField("lifecycle", T.StringType()),
    T.StructField("lit", T.StringType()),
    T.StructField("tracktype", T.StringType()),
    T.StructField("smoothness", T.StringType()),
    T.StructField("lanes", T.ArrayType(LANE_TYPE)),
    T.StructField("warnings", T.ArrayType(T.StringType())),
    T.StructField("error", T.StringType()),
])

# lanes_to_tags output: doc_id + sorted key=value entries
TAGS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    T.StructField("error", T.StringType()),
])
