"""End-to-end golden parity through the Spark pipeline.

documents(parquet, interleaved spans) → span assembly (Catalyst HOFs) or
the tags_to_lanes mapInArrow stage (which parses the span arrays in
Arrow) → compare against expected lanes and against each other, plus the
span-sequence equality invariant across the stage.
"""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from osm2lanes_spark.core.compare import diff_road, road_eq_expected
from osm2lanes_spark.core.lanes_to_tags import lanes_to_tags
from osm2lanes_spark.core.locale import Locale
from osm2lanes_spark.core.model import RoadError
from osm2lanes_spark.core.tags_to_lanes import tags_to_lanes
from osm2lanes_spark.fixtures.golden import (expected_has_separators,
                                             filter_enabled_lanes, load_cases)
from osm2lanes_spark.operators.lane_transform import (arrow_lanes_to_internal,
                                                      lane_keys,
                                                      lanes_to_tags_stage,
                                                      tags_to_lanes_stage)
from osm2lanes_spark.operators.span_assembly import span_fingerprint, with_tags

pytestmark = pytest.mark.lane_engine


def test_span_assembly(spark, fixture_dir):
    docs = spark.read.parquet(fixture_dir["documents"])
    out = with_tags(docs).select("doc_id", "tags", "tags_error").collect()
    cases = {c["case_id"]: c for c in load_cases()}
    assert len(out) == len(cases)
    for row in out:
        assert row["tags_error"] is None
        assert row["tags"] == cases[row["doc_id"]]["tags"], row["doc_id"]


def test_span_fingerprint_stable(spark, fixture_dir):
    """The invariant: carrying documents through a stage keeps spans equal."""
    docs = spark.read.parquet(fixture_dir["documents"])
    fp1 = docs.select("doc_id", span_fingerprint(F.col("spans")).alias("fp"))
    # a pass through span assembly + projection must not disturb spans
    fp2 = (with_tags(docs)
           .select("doc_id", span_fingerprint(F.col("spans")).alias("fp")))
    diff = fp1.join(fp2, "doc_id").where(fp1["fp"] != fp2["fp"]).count()
    assert diff == 0


def test_golden_through_spark(spark, fixture_dir):
    cases = {c["case_id"]: c for c in load_cases()}
    docs = spark.read.parquet(fixture_dir["documents"])
    golden = spark.read.parquet(fixture_dir["golden"])
    # per-row include_separators mirrors the reference Config per test case
    inc = {cid: (c["include_separators"] and expected_has_separators(c))
           for cid, c in cases.items()}
    docs = docs.withColumn(
        "include_separators",
        F.udf(lambda cid: inc[cid], "boolean")(F.col("case_id")))

    result = tags_to_lanes_stage(docs)
    rows = {r["doc_id"]: r for r in result.collect()}
    assert len(rows) == len(cases)

    for cid, case in cases.items():
        row = rows[cid]
        assert row["error"] is None, f"{cid}: {row['error']}"
        actual = filter_enabled_lanes(case, arrow_lanes_to_internal(row["lanes"]))
        expected = filter_enabled_lanes(case, case["expected_lanes"])
        assert road_eq_expected(actual, expected), \
            f"{cid} {case['description']}\n{diff_road(actual, expected)}"
        if case["expect_warnings"]:
            assert row["warnings"], f"{cid}: expected warnings"
        else:
            assert not row["warnings"], f"{cid}: unexpected {row['warnings']}"


def _reverse_in_process(case: dict) -> tuple:
    """(tags, error) of the reverse kernel on the forward kernel's road."""
    locale = Locale.build(case["iso_3166_2"], case["driving_side"])
    road = tags_to_lanes(dict(case["tags"]), locale)["road"]
    try:
        return lanes_to_tags(road, locale, check_roundtrip=False), None
    except Exception as e:
        return None, f"{type(e).__name__}: {e}"


def test_reverse_through_spark(spark, fixture_dir):
    """lanes_to_tags stage inverts the forward stage (roundtrip property)."""
    docs = spark.read.parquet(fixture_dir["documents"])
    roads = tags_to_lanes_stage(docs).where(F.col("error").isNull())
    locales = docs.select("doc_id", "iso_3166_2", "driving_side")
    tags_back = lanes_to_tags_stage(
        roads.join(locales, "doc_id"), check_roundtrip=False)
    # every row, error rows included, equals the in-process kernels
    rows = {r["doc_id"]: r for r in tags_back.collect()}
    cases = load_cases()
    assert len(rows) == len(cases)
    for case in cases:
        row = rows[case["case_id"]]
        tags, error = _reverse_in_process(case)
        assert (row["tags"], row["error"]) == (tags, error), case["case_id"]
    # construction-lifecycle roads are rejected by the reverse transform in
    # the reference too (lanes_to_tags/mod.rs:156-161) — that error is parity
    errs = tags_back.where(F.col("error").isNotNull()).collect()
    unexpected = [e for e in errs if "construction" not in e["error"]]
    assert not unexpected, unexpected[:3]
    # every produced tag map must at least carry a highway tag
    n_no_highway = tags_back.where(F.col("error").isNull()).where(
        ~F.map_contains_key(F.col("tags"), F.lit("highway"))).count()
    assert n_no_highway == 0


def test_malformed_spans_rejected(spark):
    """Duplicate keys and '='-less tag text mirror the reference's parse
    errors (osm-tags lib.rs:96-113, lib.rs:274) as row-level errors."""
    rows = [
        ("dup", [{"kind": "tag", "text": "highway=trunk", "media_ref": None, "offset": 0},
                 {"kind": "tag", "text": "highway=primary", "media_ref": None, "offset": 1}]),
        ("bad", [{"kind": "tag", "text": "no separator here", "media_ref": None, "offset": 0}]),
        ("ok", [{"kind": "tag", "text": "highway=trunk", "media_ref": None, "offset": 0}]),
        # null spans assemble like no spans: an empty map, not a road
        ("null_spans", None),
        ("empty_spans", []),
        # null tag text has no '=' either; the row fails, not the job
        ("null_text", [{"kind": "tag", "text": "highway=trunk", "media_ref": None, "offset": 0},
                       {"kind": "tag", "text": None, "media_ref": None, "offset": 1}]),
        # name and ref leave the lane key, not the rule
        ("dup_name", _tag_spans(["highway=trunk", "name=A", "name=B"])),
        ("dup_ref", _tag_spans(["ref=1", "highway=trunk", "ref=1"])),
        ("name_no_eq", _tag_spans(["highway=trunk", "name"])),
        ("name_empty", _tag_spans(["highway=trunk", "name="])),
        ("destination", _tag_spans(["highway=trunk", "destination=x=y"])),
        # ':' sorts before '=', so the texts and the keys sort differently
        ("order_trap", _tag_spans(["highway=secondary", "lanes=2",
                                   "lanes:forward=1"])),
        # tag spans out of offset order, a media span between them
        ("offset_order", [
            {"kind": "tag", "text": "lanes=2", "media_ref": None, "offset": 2},
            {"kind": "media", "text": None, "media_ref": "m1", "offset": 1},
            {"kind": "tag", "text": "highway=primary", "media_ref": None, "offset": 0}]),
        ("eq_in_value", _tag_spans(["highway=trunk", "b=2=x"])),
        ("keyless", _tag_spans(["highway=trunk", "=v"])),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    out = {r["doc_id"]: r for r in with_tags(df).collect()}
    assert out["dup"]["tags_error"] == "duplicate_key" and out["dup"]["tags"] is None
    assert out["bad"]["tags_error"] == "bad_tag" and out["bad"]["tags"] is None
    assert out["ok"]["tags_error"] is None and out["ok"]["tags"] == {"highway": "trunk"}
    for doc in ("null_spans", "empty_spans"):
        assert out[doc]["tags_error"] is None and out[doc]["tags"] == {}, doc
    assert out["null_text"]["tags_error"] == "bad_tag" and out["null_text"]["tags"] is None
    # and the transform stage surfaces these as error rows, not crashes
    roads = {r["doc_id"]: r for r in tags_to_lanes_stage(df).collect()}
    assert roads["dup"]["error"] == "duplicate_key"
    assert roads["bad"]["error"] == "bad_tag"
    assert roads["ok"]["error"] is None
    assert roads["null_spans"]["error"] == "way_not_road"
    assert roads["empty_spans"]["error"] == "way_not_road"
    assert roads["null_text"]["error"] == "bad_tag"
    # the stage keys rows on the tag texts, not on the map: on every row its
    # error is with_tags's tags_error, or the kernel's when the tags parse,
    # and both agree with the reference rule run in-process; an accepted
    # row's map is the in-process split of its tag texts
    for doc, spans in rows:
        texts = [s["text"] for s in spans or [] if s["kind"] == "tag"]
        want = _forward_in_process(texts, None, None, True)["error"]
        parse = want if want in ("bad_tag", "duplicate_key") else None
        assert (out[doc]["tags_error"], roads[doc]["error"]) == (parse, want), doc
        if parse is None:
            assert out[doc]["tags"] == dict(t.split("=", 1) for t in texts), doc


def _tag_spans(texts) -> list:
    return [{"kind": "tag", "text": t, "media_ref": None, "offset": i}
            for i, t in enumerate(texts)]


def _forward_in_process(texts, iso, side, include_separators) -> dict:
    """The expected row fields, from ``core.tags_to_lanes`` in-process."""
    if texts is None:
        texts = []
    if any(t is None or "=" not in t for t in texts):
        return {"error": "bad_tag"}
    tags = dict(t.split("=", 1) for t in texts)
    if len(tags) != len(texts):
        return {"error": "duplicate_key"}
    try:
        res = tags_to_lanes(tags, Locale.build(iso, side),
                            include_separators=include_separators)
    except RoadError as e:
        return {"error": e.kind}
    road = res["road"]
    return {"error": None, "name": road["name"], "ref": road["ref"],
            "highway": road["highway"], "lanes": road["lanes"],
            "warnings": [f"{w['kind']}:{w['detail']}" for w in res["warnings"]]}


def test_tags_key_exact(spark):
    """The stage runs the kernel once per distinct lane-relevant key (the
    tags without name/ref, the locale's rule class, the config), so a key
    that merged two different inputs would hand one row's output to the
    other. On one partition (one memo, one batch) every row must equal the
    in-process kernel, equal inputs must give equal rows, and error rows
    keep a null name and ref."""
    base = ["highway=primary", "lanes=3", "oneway=yes", "cycleway=lane"]
    two_way = ["highway=secondary", "lanes=2"]
    odd = ['name=say "hi"', "ref=a\\b", "destination=x=y",
           "name:fr=ligne 1\nligne 2", "name:ja=道路", "note="]
    docs = [
        ("base", base, "DE", "right", True),
        ("base_reordered", base[::-1], "DE", "right", True),
        ("one_value", ["highway=primary", "lanes=2", "oneway=yes",
                       "cycleway=lane"], "DE", "right", True),
        ("odd", base + odd, "DE", "right", True),
        ("odd_reordered", odd[::-1] + base, "DE", "right", True),
        # a naive "k=v" join of these two would collide; text codes cannot
        ("joined", base + ['name=x","ref":"y'], "DE", "right", True),
        ("split", base + ["name=x", "ref=y"], "DE", "right", True),
        ("no_separators", base, "DE", "right", False),
        ("gb", base, "GB", "left", True),
        ("no_iso", base, None, "right", True),
        ("no_locale", base, None, None, True),
        ("duplicate", ["highway=primary", "highway=trunk"], "DE", "right", True),
        ("bad", ["highway"], "DE", "right", True),
        ("null_text", base + [None], "DE", "right", True),
        ("not_road", ["building=yes"], "DE", "right", True),
        ("null_spans", None, "DE", "right", True),
        # rows that differ only in name/ref share one kernel row
        ("named", base + ["name=Hauptstraße", "ref=B 1"], "DE", "right", True),
        ("named_other", base + ["name=Ringstraße"], "DE", "right", True),
        ("ref_only", base + ["ref=B 2"], "DE", "right", True),
        ("road_ref", ["highway=secondary", "lanes=2", "ref=L 5"],
         "DE", "right", True),
        ("empty_name", base + ["name="], "DE", "right", True),
        # only the exact keys pass through; these stay in the lane key
        ("name_like", base + ["Name=X", "name:en=X"], "DE", "right", True),
        ("name_en", base + ["name:en=Main Street"], "DE", "right", True),
        # FR shares DE's rule class; NL (lane width) and US (centre line
        # colour) have classes of their own
        ("de", two_way, "DE", "right", True),
        ("fr", two_way, "FR", "right", True),
        ("nl", two_way, "NL", "right", True),
        ("us", two_way, "US", "right", True),
        ("deu", two_way, "DEU", "right", True),
        ("us_ca", two_way, "US-CA", "right", True),
        # error rows with a name keep name/ref null
        ("not_road_named", ["building=yes", "name=Rathaus", "ref=R1"],
         "DE", "right", True),
        ("duplicate_named", ["highway=primary", "highway=trunk", "name=X"],
         "DE", "right", True),
        ("name_only", ["name=Hauptstraße"], "DE", "right", True),
        ("not_road_ref", ["building=yes", "ref=R2"], "DE", "right", True),
    ]
    rows = [(d, None if texts is None else _tag_spans(texts), iso, side, inc)
            for d, texts, iso, side, inc in docs]
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>, iso_3166_2 string, "
              "driving_side string, include_separators boolean").coalesce(1)
    out = {r["doc_id"]: r.asDict(recursive=True)
           for r in tags_to_lanes_stage(df).collect()}
    assert len(out) == len(docs)
    for doc_id, texts, iso, side, inc in docs:
        want = _forward_in_process(texts, iso, side, inc)
        got = dict(out[doc_id], lanes=arrow_lanes_to_internal(out[doc_id]["lanes"] or []))
        for field, value in want.items():
            assert got[field] == value, (doc_id, field)
        if want["error"] is not None:
            assert got["lanes"] == [] and got["warnings"] is None, doc_id
            assert got["name"] is None and got["ref"] is None, doc_id

    def same(a, b):
        return {**out[a], "doc_id": None} == {**out[b], "doc_id": None}

    def same_lanes(a, b):
        unnamed = {"doc_id": None, "name": None, "ref": None}
        return {**out[a], **unnamed} == {**out[b], **unnamed}

    assert same("base", "base_reordered") and same("odd", "odd_reordered")
    for a, b in [("de", "fr"), ("de", "deu"), ("us", "us_ca")]:
        assert same(a, b), (a, b)
    for a in ("named", "named_other", "ref_only"):
        assert same_lanes("base", a) and not same("base", a), a
    for a, b in [("base", "one_value"), ("base", "no_separators"),
                 ("base", "gb"), ("joined", "split"), ("de", "nl"),
                 ("de", "us"), ("nl", "us")]:
        assert not same(a, b), (a, b)
    assert (out["named"]["name"], out["named"]["ref"]) == ("Hauptstraße", "B 1")
    assert out["odd"]["name"] == 'say "hi"' and out["odd"]["ref"] == "a\\b"
    assert (out["road_ref"]["name"], out["road_ref"]["ref"]) == (None, "L 5")
    assert out["empty_name"]["name"] == "" and out["name_like"]["name"] is None
    assert same_lanes("base", "empty_name") and same("base", "name_like")

    # the key itself, from the arrays the stage receives, as one batch:
    # two accepted rows share one exactly when their tags other than name
    # and ref are equal; a rejected row carries its error and no key
    keys = _stage_keys(df)
    lane_tags = {}
    for doc_id, texts, iso, side, inc in docs:
        error = _forward_in_process(texts, iso, side, inc)["error"]
        if error in ("bad_tag", "duplicate_key"):
            assert keys[doc_id][:2] == (None, error), doc_id
        else:
            assert keys[doc_id][1] is None, doc_id
            lane_tags[doc_id] = {k: v for k, v in (t.split("=", 1) for t in texts or ())
                                 if k not in ("name", "ref")}
    for a in lane_tags:
        for b in lane_tags:
            same = keys[a][0] == keys[b][0]
            assert same == (lane_tags[a] == lane_tags[b]), (a, b)
    assert keys["name_en"][0] != keys["base"][0]


def _stage_keys(df) -> dict:
    """doc_id → (key, error, name, ref) of ``lane_keys`` over the spans'
    kind and text arrays, the columns the lane stage receives."""
    table = df.selectExpr("doc_id", "spans.kind AS kinds",
                          "spans.text AS texts").toArrow().combine_chunks()
    keys = lane_keys(table.column("kinds").chunk(0),
                     table.column("texts").chunk(0))
    return dict(zip(table.column("doc_id").to_pylist(),
                    zip(*(c.to_pylist() for c in keys[:4]))))


def _random_spans(rng: random.Random):
    """A span list drawn to hit every branch of the tag parse rule."""
    if rng.random() < 0.03:
        return None
    keys = ["highway", "lanes", "oneway", "name", "ref", "name:en", "Name",
            "ref:x", "", "é"]
    values = ["primary", "2", "yes", "", "a=b", "\"q\"", "\\", "ü"]
    spans = []
    if rng.random() < 0.7:
        spans.append(("tag", "highway=" + rng.choice(["primary", "residential"])))
    for _ in range(rng.randrange(5)):
        kind = rng.choices(["tag", "media", None], [8, 1, 1])[0]
        shape = rng.random()
        if shape < 0.05:
            text = None
        elif shape < 0.12:
            text = rng.choice(keys) + rng.choice(values).replace("=", "")
        else:
            text = rng.choice(keys) + "=" + rng.choice(values)
        spans.append((kind, text))
    if spans and rng.random() < 0.1:
        spans.append(rng.choice(spans))  # a repeated key
    if rng.random() < 0.05:
        spans.insert(rng.randrange(len(spans) + 1), None)
    rng.shuffle(spans)
    return [None if s is None else
            {"kind": s[0], "text": s[1], "media_ref": None, "offset": i}
            for i, s in enumerate(spans)]


def test_parse_rule_sql_arrow_differential(spark):
    """``with_tags`` (the SQL rule) and the lane stage (its Arrow twin)
    give every generated row the same parse error, and the stage's
    name/ref and kernel error equal the in-process values."""
    rng = random.Random(20261020)
    rows = [(f"r{i}", _random_spans(rng)) for i in range(2000)]
    df = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>").coalesce(2)
    sql = {r["doc_id"]: r["tags_error"]
           for r in with_tags(df).select("doc_id", "tags_error").collect()}
    roads = {r["doc_id"]: r for r in tags_to_lanes_stage(df).select(
        "doc_id", "error", "name", "ref").collect()}
    errors, passed = set(), set()
    for doc, spans in rows:
        texts = [s["text"] for s in spans or () if s is not None
                 and s["kind"] == "tag"]
        want = _forward_in_process(texts, None, None, True)
        parse = want["error"] if want["error"] in ("bad_tag", "duplicate_key") else None
        got = roads[doc]
        assert sql[doc] == parse, doc
        if sql[doc] is not None:
            assert got["error"] == sql[doc], doc
        assert got["error"] == want["error"], doc
        assert (got["name"], got["ref"]) == (want.get("name"), want.get("ref")), doc
        errors.add(got["error"])
        passed |= {f for f in ("name", "ref") if got[f] is not None}
    # every outcome occurs: accepted rows, both parse errors, name and ref
    assert {None, "bad_tag", "duplicate_key"} <= errors
    assert passed == {"name", "ref"}
