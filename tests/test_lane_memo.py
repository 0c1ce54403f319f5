"""The lane stage's memo key, checked on the kernel alone (no Spark).

The forward stage runs the kernel once per (tags without ``name``/``ref``,
``Locale.rule_key()``, include_separators). That is sound only while the
kernel reads a locale through its rule class and copies ``name``/``ref``
without reading them; these tests hold both facts, and guard the class
against a new country rule that ``rule_key()`` does not name.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from osm2lanes_spark.core.locale import COUNTRIES, Locale
from osm2lanes_spark.core.model import RoadError
from osm2lanes_spark.core.tags_to_lanes import tags_to_lanes
from osm2lanes_spark.fixtures.golden import load_cases

pytestmark = pytest.mark.lane_engine

CORE = Path(__file__).resolve().parent.parent / "osm2lanes_spark" / "core"
SIDES = ("left", "right", None)
# every known country as alpha2, alpha3 and a subdivision; no code; an
# unknown code
ISO_CODES = [code for a2, (a3, _, _) in COUNTRIES.items()
             for code in (a2, a3, f"{a2}-SUB")] + [None, "ZZ"]


def _kernel(tags: dict, locale: Locale):
    try:
        return tags_to_lanes(dict(tags), locale)
    except RoadError as e:
        return ("error", e.kind)


def test_rule_class_gives_equal_output():
    """Every locale gives the output of the first locale of its class."""
    classes = set()
    for case in load_cases():
        first = {}
        for iso in ISO_CODES:
            for side in SIDES:
                locale = Locale.build(iso, side)
                got = _kernel(case["tags"], locale)
                want = first.setdefault(locale.rule_key(), got)
                assert got == want, (case["case_id"], iso, side)
        classes |= set(first)
    # GB, NL, the Americas and the rest, each driving left or right (a null
    # side is right)
    assert len(classes) == 4 * 2


def test_name_ref_pass_through():
    """Dropping or setting name/ref changes only road.name and road.ref."""
    for case in load_cases():
        locale = Locale.build(case["iso_3166_2"], case["driving_side"])
        bare = {k: v for k, v in case["tags"].items() if k not in ("name", "ref")}
        want = _kernel(bare, locale)
        for extra in ({}, {"name": "Main Street"}, {"ref": "A 1"},
                      {"name": "Main Street", "ref": "A 1"},
                      {k: case["tags"][k] for k in ("name", "ref")
                       if k in case["tags"]}):
            got = _kernel({**bare, **extra}, locale)
            if isinstance(want, tuple):
                assert got == want, (case["case_id"], extra)
                continue
            road = {**want["road"], "name": extra.get("name"),
                    "ref": extra.get("ref")}
            assert got == {**want, "road": road}, (case["case_id"], extra)


def _compared_literals(reads) -> set:
    """String literals compared (``==``, ``!=``, ``in``) with an
    expression that ``reads`` accepts, in ``core/*.py``."""
    found = set()
    for path in sorted(CORE.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Compare):
                continue
            operands = [node.left, *node.comparators]
            if any(reads(o) for o in operands):
                found |= {c.value for o in operands for c in ast.walk(o)
                          if isinstance(c, ast.Constant)
                          and isinstance(c.value, str)}
    return found


def test_rule_key_names_every_country_rule():
    """A country a kernel compares by name must have a class of its own;
    a new rule has to widen ``rule_key()``, not merge two classes."""
    countries = _compared_literals(
        lambda o: isinstance(o, ast.Attribute) and o.attr == "country")
    assert {"GB", "NL"} <= countries
    for country in countries:
        assert Locale.build(country).rule_key()[0] == country, country
    regions = _compared_literals(
        lambda o: isinstance(o, ast.Call) and isinstance(o.func, ast.Attribute)
        and o.func.attr == "region")
    assert regions == {"Americas"}
    # nor may a kernel read the subdivision, which no class holds
    for path in sorted(CORE.glob("*.py")):
        if path.name != "locale.py":
            assert ".subdivision" not in path.read_text(), path.name
