"""Golden-corpus parity of the pure row kernel (no Spark).

Replicates the reference test runner `osm2lanes/src/test.rs:450-535`
(forward) and `test.rs:537-590` (roundtrip) against
the in-repo golden fixture (``fixtures/golden_fixture``).
"""

from __future__ import annotations

import pytest

from osm2lanes_spark.core.compare import diff_road, road_eq_expected
from osm2lanes_spark.core.lanes_to_tags import lanes_to_tags
from osm2lanes_spark.core.locale import Locale
from osm2lanes_spark.core.tags_to_lanes import tags_to_lanes
from osm2lanes_spark.fixtures.golden import (expected_has_separators,
                                             filter_enabled_lanes, load_cases)

CASES = load_cases()


def _id(case):
    return case["description"] or case["case_id"]


@pytest.mark.parametrize("case", CASES, ids=[_id(c) for c in CASES])
def test_forward(case):
    locale = Locale.build(case["iso_3166_2"], case["driving_side"])
    inc = case["include_separators"] and expected_has_separators(case)
    res = tags_to_lanes(case["tags"], locale, include_separators=inc)
    actual = filter_enabled_lanes(case, res["road"]["lanes"])
    expected = filter_enabled_lanes(case, case["expected_lanes"])
    assert road_eq_expected(actual, expected), diff_road(actual, expected)
    if case["expect_warnings"]:
        assert res["warnings"], "expected warnings, got none"
    else:
        assert not res["warnings"], f"unexpected warnings: {res['warnings']}"


@pytest.mark.parametrize("case", CASES, ids=[_id(c) for c in CASES])
def test_roundtrip(case):
    locale = Locale.build(case["iso_3166_2"], case["driving_side"])
    inc = case["include_separators"] and expected_has_separators(case)
    road = {"highway": case["expected_highway"], "lifecycle": "active",
            "lanes": case["expected_lanes"]}
    tags = lanes_to_tags(road, locale, check_roundtrip=False)
    res = tags_to_lanes(tags, locale, include_separators=inc)
    actual = filter_enabled_lanes(case, res["road"]["lanes"])
    expected = filter_enabled_lanes(case, case["expected_lanes"])
    assert road_eq_expected(actual, expected), diff_road(actual, expected)


def test_corpus_size():
    # 62 cases in the corpus, 46 enabled (rust: false disables the rest),
    # matching the reference loader's filter (test.rs:110-115).
    assert len(CASES) == 46
