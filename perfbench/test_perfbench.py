"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench -q -p no:cacheprovider

The Spark test starts a ``local[1]`` session (about 20 s).
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from perfbench import checker, harness, layers, workloads
from perfbench.tracing import self_times

ROOT = Path(__file__).resolve().parent.parent


def _bytes(paths: dict) -> dict:
    return {f.relative_to(Path(p).parent): f.read_bytes()
            for p in paths.values() for f in sorted(Path(p).iterdir())}


@pytest.mark.parametrize("workload", sorted(workloads.SPECS))
def test_generator_is_byte_identical_for_a_seed(tmp_path, workload):
    first = workloads.write(workloads.generate(workload, 7, 4), tmp_path / "a", 4)
    again = workloads.write(workloads.generate(workload, 7, 4), tmp_path / "b", 4)
    other = workloads.write(workloads.generate(workload, 8, 4), tmp_path / "c", 4)
    assert _bytes(first) == _bytes(again)
    assert _bytes(first) != _bytes(other)


def test_workload_properties_hit_their_targets():
    lanes_dict = workloads.generate("lanes_dict", 3, 4).props
    assert lanes_dict["pip_share"] == 0.0
    assert lanes_dict["unresolved_share"] == 0.0
    assert lanes_dict["distinct_key_share"] < 0.01
    border = workloads.generate("lanes_distinct_border", 3, 4).props
    assert border["distinct_key_share"] == 1.0
    assert border["pip_share"] >= 0.25
    assert 0.0 < border["unresolved_share"] < 0.5


def test_brute_force_locate_agrees_with_fixture_points():
    from osm2lanes_spark.fixtures.geography import all_country_polygons, doc_point

    polygons = all_country_polygons()
    pts = np.array([doc_point(f"doc{i}", a2) for i, a2 in enumerate(sorted(polygons))])
    assert list(checker.locate(pts[:, 0], pts[:, 1], polygons)) == sorted(polygons)
    assert checker.locate(np.array([0.0]), np.array([89.0]), polygons)[0] is None


def test_count_failed_flags_changed_missing_and_duplicate_rows():
    expected = {"a": 1, "b": 2, "c": 3}
    assert checker.count_failed(pd.DataFrame({"doc_id": ["a", "b", "c"],
                                              "h": [1, 2, 3]}), expected) == 0
    assert checker.count_failed(pd.DataFrame({"doc_id": ["a", "b", "b"],
                                              "h": [1, 9, 9]}), expected) == 3


def test_knn_checker_accepts_exact_answer_and_flags_a_wrong_way():
    lines = np.array([[[0.0, 0.0], [1.0, 0.0]], [[0.0, 1.0], [1.0, 1.0]],
                      [[0.0, 3.0], [1.0, 3.0]]])
    ways = np.array(["w0", "w1", "w2"])
    dist = checker.distance_matrix(np.array([0.5]), np.array([0.2]), lines)
    good = pd.DataFrame({"query_id": ["q0", "q0"], "way_id": ["w0", "w1"],
                         "dist": [0.2, 0.8], "rank": [1, 2]})
    assert checker.knn_failed(good, np.array(["q0"]), ways, dist, 2) == 0
    wrong = good.assign(way_id=["w0", "w2"], dist=[0.2, 2.8])
    assert checker.knn_failed(wrong, np.array(["q0"]), ways, dist, 2) == 1


def test_self_time_subtracts_only_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},   # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    got = self_times(spans)
    assert got == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 3.0, 4: 1.0})


def test_benchmark_json_names_every_metric_with_its_unit():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(workloads.SPECS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER


@pytest.fixture(scope="module")
def spark():
    import os

    from osm2lanes_spark.session import get_spark

    # Python workers import the engine and this package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    session = get_spark("perfbench-selftest", cpus=1)
    yield session
    session.stop()


def test_checker_flags_one_corrupted_lane_row(spark, tmp_path):
    from pyspark.sql import functions as F

    from osm2lanes_spark import pipeline
    from osm2lanes_spark.fixtures.geography import all_country_polygons
    from perfbench.jobs import LaneExpectations

    inputs = workloads.generate("lanes_distinct_border", 5, 1)
    paths = workloads.write(inputs, tmp_path, 1)
    lanes = LaneExpectations(inputs)
    n = workloads.WARM_DOCS
    expected = lanes.forward(spark, n)
    out = pipeline.lanes_pipeline(spark.read.parquet(paths["warm_docs"]),
                                  all_country_polygons(),
                                  level=workloads.LOCALE_LEVEL)
    assert checker.count_failed(checker.forward_hash(out).toPandas(), expected) == 0

    victim = next(d for d, b in zip(lanes.doc_ids[:n], inputs.doc_base)
                  if lanes.base_rows[b]["lanes"])
    retyped = F.transform("lanes", lambda l: l.withField("type", F.lit("corrupt")))
    corrupted = out.withColumn(
        "lanes", F.when(F.col("doc_id") == victim, retyped).otherwise(F.col("lanes")))
    assert checker.count_failed(checker.forward_hash(corrupted).toPandas(),
                                expected) == 1

