"""The flagship end-to-end pipeline.

documents (Iceberg/parquet, interleaved spans, way geometry)
  → the spans' kind and text arrays (one plain JVM projection)
  → lane key, parse error, name, ref (vectorised pyarrow, in the lane
    stage)
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

from pyspark.sql import DataFrame

from .operators.lane_transform import tags_to_lanes_stage
from .spatial.joins import containment_join, make_locale_resolver


def resolve_locale(docs: DataFrame, polygons: dict[str, np.ndarray],
                   level: int = 10, strategy: str = "map") -> DataFrame:
    """Resolve (iso_3166_2, driving_side) for each document from geometry.

    docs must carry ``doc_id``, ``lon``, ``lat``. Any ``iso_3166_2`` or
    ``driving_side`` they carry is replaced: both come from the locale
    index's answer for the point (``containment_join``'s ``key`` and its
    ``driving_side``).
    """
    return (containment_join(docs.drop("iso_3166_2", "driving_side"), polygons,
                             level=level, strategy=strategy)
            .withColumnRenamed("key", "iso_3166_2"))


def lanes_pipeline(docs: DataFrame,
                   polygons: Optional[dict[str, np.ndarray]] = None,
                   level: int = 10,
                   strategy: str = "map",
                   fused: bool = True) -> DataFrame:
    """Full pipeline. When ``polygons`` is None the documents must already
    carry locale columns (iso_3166_2 / driving_side). When it is given,
    both paths resolve the locale from ``lon``/``lat`` and any locale
    columns the documents carry are replaced.

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
    shipped once per SparkContext as a broadcast, and the lane stage's
    JVM side is one projection with no lambda (the lane key is built in
    the Arrow stage). ``fused=False`` assembles no tag map either. With
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
