"""The lane stage's memo key, checked on the kernel alone (no Spark).

The forward stage runs the kernel once per (tags without ``name``/``ref``,
``Locale.rule_key()``, include_separators). That is sound only while the
kernel reads a locale through its rule class and copies ``name``/``ref``
without reading them; these tests hold both facts, and guard the class
against a new country rule that ``rule_key()`` does not name. They also
check the Arrow side of the key (``lane_keys``) against the in-process
parse rule, and the per-task memo across batches and under eviction.
"""

from __future__ import annotations

import ast
from collections import OrderedDict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from osm2lanes_spark.core.locale import COUNTRIES, Locale
from osm2lanes_spark.core.model import RoadError
from osm2lanes_spark.core.tags_to_lanes import tags_to_lanes
from osm2lanes_spark.fixtures.golden import load_cases
from osm2lanes_spark.operators import lane_transform as LT

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


def _parse_in_process(spans):
    """(error, name, ref, tags other than name/ref) of one row's spans by
    the reference rule: split each tag text on its first '='."""
    texts = [s[1] for s in spans or () if s is not None and s[0] == "tag"]
    if any(t is None or "=" not in t for t in texts):
        return "bad_tag", None, None, None
    tags = dict(t.split("=", 1) for t in texts)
    if len(tags) != len(texts):
        return "duplicate_key", None, None, None
    return (None, tags.pop("name", None), tags.pop("ref", None), tags)


def _lists(rows, field):
    return pa.array([None if r is None else
                     [None if s is None else s[field] for s in r]
                     for r in rows], pa.list_(pa.string()))


def _spans(*texts):
    return [("tag", t) for t in texts]


BASE = ("highway=primary", "lanes=2")
KEY_ROWS = {
    "null_spans": None,
    "no_spans": [],
    "null_span": [None, *_spans(*BASE)],
    "null_kind": [(None, "x=1"), *_spans(*BASE)],
    "media": [("media", None), *_spans(*BASE), ("media", "m=1")],
    "null_text": _spans("highway=primary", None),
    "no_eq": _spans("highway=primary", "oneway"),
    "two_eq": _spans("highway=primary", "destination=a=b"),
    "empty_text": _spans("highway=primary", ""),
    "empty_key": _spans("highway=primary", "=v"),
    "empty_value": _spans("highway=primary", "note="),
    "dup": _spans("highway=primary", "highway=trunk"),
    "dup_same": _spans("lanes=2", "lanes=2"),
    "dup_name": _spans("highway=primary", "name=A", "name=B"),
    "dup_ref": _spans("ref=1", "highway=primary", "ref=1"),
    "base": _spans(*BASE),
    "base_reordered": _spans(*BASE[::-1]),
    "base_named": _spans("name=Main", *BASE, "ref=B 1"),
    "empty_name_ref": _spans(*BASE, "name=", "ref="),
    "name_like": _spans(*BASE, "name:en=Main", "Name=Main"),
    "name_en": _spans(*BASE, "name:en=Main"),
    "odd": _spans(*BASE, 'name=say "hi"', "ref=a\\b", "note=\"q\"\\",
                  "name:ja=道路", "é=ü"),
    "odd_reordered": _spans("é=ü", "name:ja=道路", "note=\"q\"\\",
                            *BASE[::-1]),
    # ':' sorts before '=': texts and keys sort differently
    "order_trap": _spans("lanes=2", "lanes:forward=1", "highway=primary"),
    "only_name_ref": _spans("name=A", "ref=B"),
    "only_name": _spans("name=C"),
}


def _check_keys(rows: dict):
    keys = LT.lane_keys(_lists(rows.values(), 0), _lists(rows.values(), 1))
    got = dict(zip(rows, zip(*(c.to_pylist() for c in keys[:4]))))
    words = keys.words.to_pylist()
    assert len(words) == len(set(words))
    lane_tags = {}
    for doc, spans in rows.items():
        key, error, name, ref = got[doc]
        want_error, want_name, want_ref, tags = _parse_in_process(spans)
        assert (error, name, ref) == (want_error, want_name, want_ref), doc
        if error is not None:
            assert key is None, doc
            continue
        # the key decodes to the row's sorted texts other than name/ref
        texts = sorted(words[c] for c in np.frombuffer(key, "<i4"))
        assert texts == sorted(f"{k}={v}" for k, v in tags.items()), doc
        lane_tags[doc] = tags
    for a in lane_tags:
        for b in lane_tags:
            same = got[a][0] == got[b][0]
            assert same == (lane_tags[a] == lane_tags[b]), (a, b)
    return got


def test_lane_keys_match_in_process_rule():
    got = _check_keys(KEY_ROWS)
    assert got["base"][0] == got["base_reordered"][0] == got["base_named"][0]
    assert got["odd"][0] == got["odd_reordered"][0]
    assert got["name_like"][0] != got["name_en"][0] != got["base"][0]
    assert got["only_name_ref"][0] == got["no_spans"][0] == b""
    # error rows only, and an empty batch
    _check_keys({d: KEY_ROWS[d] for d in ("null_text", "no_eq", "dup",
                                           "dup_name", "empty_text")})
    _check_keys({})


def test_lane_keys_sliced_batch():
    """A sliced batch (non-zero list offsets) keys like a fresh one."""
    rows = list(KEY_ROWS.values())
    kinds, texts = _lists(rows, 0), _lists(rows, 1)
    whole = LT.lane_keys(kinds, texts)
    part = LT.lane_keys(kinds.slice(5), texts.slice(5))
    for c in (1, 2, 3):
        assert part[c].to_pylist() == whole[c].to_pylist()[5:]
    decode = lambda keys: [None if k is None else sorted(
        keys.words.to_pylist()[c] for c in np.frombuffer(k, "<i4"))
        for k in keys.key.to_pylist()]
    assert decode(part) == decode(whole)[5:]


def _batch(rows: list) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([f"d{i}" for i in range(len(rows))]),
         _lists(rows, 0), _lists(rows, 1)], names=["doc_id", "kinds", "texts"])


def _no_locale(batch):
    return [pa.nulls(batch.num_rows, pa.string())] * 2


def _counting_kernel(monkeypatch) -> list:
    calls = []
    kernel = LT._transform_row

    def counted(tags, *args):
        calls.append(dict(tags))
        return kernel(tags, *args)

    monkeypatch.setattr(LT, "_transform_row", counted)
    return calls


def test_memo_spans_batches(monkeypatch):
    """A tag set that first appears in another order, among other texts,
    in a later batch hits the memo: the kernel runs once for both."""
    calls = _counting_kernel(monkeypatch)
    road = ["highway=primary", "lanes=3", "oneway=yes", "cycleway=lane"]
    first = _batch([_spans(*road, "name=A"), _spans(*road, "name=B")])
    second = _batch([_spans("highway=service"),
                     _spans("name=C", *road[::-1]),
                     _spans("aaa=1", *road[1:]), _spans(*road[2:], *road[:2])])
    out = list(LT._lane_rows(iter([first, second]), _no_locale, False))
    assert calls.count(dict(t.split("=", 1) for t in road)) == 1
    assert len(calls) == 3  # road, service, the 'aaa' set
    rows = [r for b in out for r in b.to_pylist()]
    assert [r["name"] for r in rows] == ["A", "B", None, "C", None, None]
    lanes = [r["lanes"] for r in rows]
    assert lanes[0] == lanes[1] == lanes[3] == lanes[5] != lanes[4]
    assert rows[0]["error"] is None


def test_memo_fifo_eviction(monkeypatch):
    """The memo never exceeds ``_MEMO_SIZE``, evicts oldest-first and
    gives the same row when an evicted key comes back."""
    monkeypatch.setattr(LT, "_MEMO_SIZE", 2)
    calls = _counting_kernel(monkeypatch)
    sets = [("highway=primary", f"lanes={n}") for n in range(1, 5)]
    memo = OrderedDict()
    rows = []
    for texts in sets:
        rows.append(LT._memo_row(memo, texts, "DE", "right", True))
        assert len(memo) <= 2
    assert [k[0] for k in memo] == sets[2:]
    assert len(calls) == 4
    assert LT._memo_row(memo, sets[3], "FR", "right", True) is rows[3]
    assert len(calls) == 4  # FR shares DE's rule class: a hit
    assert LT._memo_row(memo, sets[0], "DE", "right", True) == rows[0]
    assert len(calls) == 5 and [k[0] for k in memo] == [sets[3], sets[0]]
    assert len({str(r["lanes"]) for r in rows}) == 4
