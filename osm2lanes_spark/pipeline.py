"""The flagship end-to-end pipeline.

documents (Iceberg/parquet, interleaved spans, way geometry)
  → tag texts → lane key, name, ref (Catalyst HOFs, JVM-side)
  → spatial locale resolution (one broadcast locale index: morton cell
    lookup + PIP refinement)                   [replaces Overpass is_in]
  → tags_to_lanes Arrow stage (ROAD_SCHEMA)
  → sinks (parquet/Iceberg) + per-partition lineage metrics

Scale notes: the fused path (and ``strategy='map'``) has no shuffle — locale
resolution and the transform are one narrow map that pipelines with the
scan. The only shuffles are (a) the groupBy of the unfused
``strategy='broadcast'`` containment join and (b) anything the caller adds
downstream.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core.locale import COUNTRIES
from .operators.lane_transform import tags_to_lanes_stage
from .spatial.joins import containment_join, make_locale_resolver


def locale_dim(spark: SparkSession) -> DataFrame:
    """Country dim (alpha2, alpha3, region, driving_side) — broadcast-sized.

    Mirrors the reference's celes/locale-codes lookups (locale.rs:46-59,
    199-201) as data.
    """
    rows = [(a2, a3, region, side) for a2, (a3, region, side) in sorted(COUNTRIES.items())]
    return spark.createDataFrame(rows, "alpha2 string, alpha3 string, region string, driving_side string")


def resolve_locale(docs: DataFrame, polygons: dict[str, np.ndarray],
                   level: int = 10, strategy: str = "map") -> DataFrame:
    """Resolve (iso_3166_2, driving_side) for each document from geometry.

    docs must carry ``doc_id``, ``lon``, ``lat``. Containment join →
    country alpha2 → broadcast join to the locale dim for driving side.
    """
    spark = docs.sparkSession
    located = containment_join(docs, polygons, level=level, strategy=strategy)
    dim = F.broadcast(locale_dim(spark).withColumnRenamed("alpha2", "key"))
    return (located.join(dim, "key", "left")
            .withColumnRenamed("key", "iso_3166_2")
            .drop("alpha3", "region"))


def lanes_pipeline(docs: DataFrame,
                   polygons: Optional[dict[str, np.ndarray]] = None,
                   level: int = 10,
                   strategy: str = "map",
                   fused: bool = True) -> DataFrame:
    """Full pipeline. When ``polygons`` is None the documents must already
    carry locale columns (iso_3166_2 / driving_side).

    ``fused`` (default): spatial locale resolution, the cell encode
    included, runs inside the lane transform's Arrow stage on the
    ``lon``/``lat`` it receives — ONE Python stage per task; two stacked
    Python runners per core measurably degrade throughput.
    ``fused=False`` runs ``resolve_locale`` (with ``strategy``)
    as a separate stage first; both paths return the same ``ROAD_SCHEMA``
    rows. A caller that wants the located DataFrame itself calls
    ``resolve_locale``.

    The per-call floor is kept small: the locale index is built once per
    (polygon content, level) by the memoised ``make_locale_resolver`` and
    shipped once per SparkContext as a broadcast, and the JVM plan is
    built from cached Spark SQL text, one py4j call per expression.
    ``fused=False`` assembles no tag map either. With
    ``strategy='broadcast'`` it encodes cells JVM-side (``cell_sql``); the
    fused path and ``strategy='map'`` encode them in numpy
    (``LocaleResolver.locate``). Both encoders give the same cell.
    """
    if polygons is not None and fused:
        return tags_to_lanes_stage(
            docs, locale_resolver=make_locale_resolver(polygons, level))
    if polygons is not None:
        docs = resolve_locale(docs, polygons, level=level, strategy=strategy)
    return tags_to_lanes_stage(docs)
