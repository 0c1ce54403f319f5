"""CLI + serde-shape serialization parity."""

from __future__ import annotations

import json
import os

import pytest

from osm2lanes_spark.cli import main as cli_main
from osm2lanes_spark.cli import run_batch
from osm2lanes_spark.core.locale import Locale
from osm2lanes_spark.core.serialize import lane_json, road_json, speed_json
from osm2lanes_spark.core.tags_to_lanes import tags_to_lanes
from osm2lanes_spark.fixtures.golden import FIXTURE_DIR


def test_speed_json_asymmetry():
    # metric.rs:181-201: kph bare number, mph/knots struct
    assert speed_json(("kph", 60.0)) == 60.0
    assert speed_json(("mph", 30.0)) == {"unit": "mph", "value": 30.0}
    assert speed_json(("knots", 5.0)) == {"unit": "knots", "value": 5.0}


def test_lane_json_skips_none():
    lane = {"type": "travel", "designated": "motor_vehicle",
            "direction": "forward", "width": 3.5}
    out = lane_json(lane)
    assert "max_speed" not in out and "access" not in out
    assert list(out)[0] == "type"


def test_road_json_lifecycle():
    res = tags_to_lanes({"highway": "construction", "construction": "trunk"},
                        Locale.build(None))
    rj = road_json(res["road"])
    assert rj["highway"] == "trunk" and rj["lifecycle"] == "construction"
    res2 = tags_to_lanes({"highway": "trunk"}, Locale.build(None))
    assert "lifecycle" not in road_json(res2["road"])


def test_cli_convert(tmp_path, capsys):
    f = tmp_path / "tags.json"
    f.write_text(json.dumps({"highway": "residential", "lanes": "2",
                             "sidewalk": "both"}))
    rc = cli_main(["convert", str(f), "--driving-side", "right"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["highway"] == "residential"
    types = [l["type"] for l in out["lanes"]]
    assert types.count("travel") == 4  # 2 motor + 2 foot
    assert "separator" in types


def test_cli_convert_not_road(tmp_path, capsys):
    f = tmp_path / "tags.json"
    f.write_text(json.dumps({"building": "yes"}))
    rc = cli_main(["convert", str(f)])
    assert rc == 1
    assert "error" in json.loads(capsys.readouterr().out)


@pytest.mark.checkpoint
def test_run_batch_golden_fixture(spark, tmp_path, capsys):
    """The batch job body (the CLI's ``batch`` and the spark-submit job)
    on the packaged golden documents plus one with a duplicate tag key:
    every document lands, only that one errors (counted from the footers,
    checked against a read-back), and the manifest's per-partition counts
    add up."""
    docs = spark.read.parquet(os.path.join(FIXTURE_DIR, "documents.parquet"))
    spans = [{"kind": "tag", "text": text, "media_ref": None, "offset": i}
             for i, text in enumerate(["highway=primary", "highway=residential"])]
    dup = spark.createDataFrame([("dup_key", "dup_key", "right", None, spans)],
                                docs.schema)
    inp, out = str(tmp_path / "docs"), str(tmp_path / "lanes")
    docs.unionByName(dup).write.parquet(inp)
    summary = run_batch(spark, inp, out)
    assert json.loads(capsys.readouterr().out.splitlines()[-1]) == summary
    assert (summary["rows"], summary["errors"]) == (47, 1)
    assert sum(summary["partition_rows"]) == summary["rows"]
    lanes = spark.read.parquet(out)
    assert lanes.count() == 47
    assert lanes.where("error IS NOT NULL").count() == summary["errors"]
