"""Engine calls whose whole output the benchmark consumes and checks.

A job runs one public engine call on a parquet input, consumes the whole
result on the driver (a per-row hash, or the kNN rows themselves) and
counts the rows that fail the independent check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from osm2lanes_spark import pipeline
from osm2lanes_spark.schemas import ROAD_SCHEMA, TAGS_SCHEMA
from osm2lanes_spark.spatial.joins import knn_join
from pyspark.sql import types as T

from . import checker
from .workloads import KNN_K, KNN_LEVEL, LOCALE_LEVEL, WARM_DOCS, Inputs


class LaneExpectations:
    """Expected forward and reverse rows of the generated documents,
    computed once per distinct base (case, locale) by the row kernels."""

    def __init__(self, inputs: Inputs):
        self.inputs = inputs
        self.doc_ids = inputs.docs.column("doc_id").to_pylist()
        self.base_rows = [checker.forward_row(tags, a2) for tags, a2 in inputs.bases]
        self._forward: dict = {}

    def _docs(self, spark, n: int):
        base = self.inputs.doc_base[:n]
        names = [None if self.base_rows[b]["error"] else name
                 for b, name in zip(base, self.inputs.doc_names[:n])]
        pdf = pd.DataFrame({"doc_id": self.doc_ids[:n], "base": base, "name": names})
        return spark.createDataFrame(pdf, "doc_id string, base long, name string")

    def _join(self, spark, n: int, rows: list[dict], schema: T.StructType):
        fields = [f for f in schema.fields if f.name not in ("doc_id", "name")]
        bases = spark.createDataFrame(
            [dict(r, base=i) for i, r in enumerate(rows)],
            T.StructType([T.StructField("base", T.LongType())] + fields))
        return self._docs(spark, n).join(bases, "base")

    def forward(self, spark, n: int) -> dict:
        """doc_id -> hash of the expected ROAD_SCHEMA row, first ``n`` docs.

        Hashed for every doc on first use, then sliced.
        """
        if not self._forward:
            rows = [{k: v for k, v in r.items() if k != "name"}
                    for r in self.base_rows]
            self._forward = checker.expected_hashes(
                self._join(spark, len(self.doc_ids), rows, ROAD_SCHEMA),
                checker.forward_hash)
        return {d: self._forward[d] for d in self.doc_ids[:n]}

    def reverse(self, spark, n: int) -> dict:
        """doc_id -> hash of the expected TAGS_SCHEMA row, first ``n`` docs."""
        rows = [checker.reverse_row(r) for r in self.base_rows]
        return checker.expected_hashes(self._join(spark, n, rows, TAGS_SCHEMA),
                                       checker.reverse_hash)


class LanesJob:
    """The timed call: fused ``pipeline.lanes_pipeline`` over the documents."""

    layer = "pipeline"

    def __init__(self, inputs: Inputs, paths: dict, lanes: LaneExpectations):
        self.paths = paths
        self.lanes = lanes
        self.rows = inputs.docs.num_rows
        self.warm_rows = min(WARM_DOCS, self.rows)
        self.expected: dict = {}
        self.expected_warm: dict = {}

    def expect(self, spark) -> None:
        self.expected = self.lanes.forward(spark, self.rows)
        self.expected_warm = self.lanes.forward(spark, self.warm_rows)

    def run(self, spark, polygons: dict, warm: bool = False) -> pd.DataFrame:
        docs = spark.read.parquet(self.paths["warm_docs" if warm else "docs"])
        out = pipeline.lanes_pipeline(docs, polygons, level=LOCALE_LEVEL)
        return checker.forward_hash(out).toPandas()

    def failed(self, out: pd.DataFrame, warm: bool = False) -> int:
        """Rows of one call's output that fail the check."""
        return checker.count_failed(out, self.expected_warm if warm else self.expected)


class KnnJob:
    """``spatial.joins.knn_join`` of the generated queries over the ways."""

    def __init__(self, inputs: Inputs, paths: dict):
        self.paths = paths
        self.way_ids = np.array(inputs.ways.column("way_id").to_pylist())
        self.query_ids = np.array(inputs.queries.column("query_id").to_pylist())
        self.rows = len(self.query_ids)
        self.dist = checker.distance_matrix(
            inputs.queries.column("lon").to_numpy(),
            inputs.queries.column("lat").to_numpy(), inputs.way_lines)

    def run(self, spark) -> pd.DataFrame:
        queries = spark.read.parquet(self.paths["queries"])
        ways = spark.read.parquet(self.paths["ways"])
        out = knn_join(queries, ways, k=KNN_K, level=KNN_LEVEL)
        return out.select("query_id", "way_id", "dist", "rank").toPandas()

    def failed(self, out: pd.DataFrame) -> int:
        return checker.knn_failed(out, self.query_ids, self.way_ids,
                                  self.dist, KNN_K)
