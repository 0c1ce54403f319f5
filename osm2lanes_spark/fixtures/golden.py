"""Golden corpus: the reference's 46 enabled test cases as engine-native cases.

Mirrors the ``TestCase`` record (`/root/reference/osm2lanes/src/test.rs:19-83`)
including the expect_warnings / separator flags, with the expected lane
dicts in the engine's internal shape (speeds as ``(unit, value)`` tuples,
widths as floats). The cases are read from the in-repo parquet fixture
(``golden_fixture/``), converted once from the reference's ``tests.yml``:
``documents.parquet`` carries each case's tags as spans plus its locale,
``golden.parquet`` its expected road.

Also generates the **interleaved documents** fixture mandated by the
input-hint: one document per case whose ``kind='tag'`` spans reassemble to
the case's tag map, interleaved with ``kind='media'`` noise spans the
pipeline must carry through untouched (span-sequence equality invariant).
The generator is deterministic (hash-seeded per doc) — no RNG state.
"""

from __future__ import annotations

import hashlib
import json
import os

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "golden_fixture")


def _norm_lane(lane: dict) -> dict:
    """JSON lane → internal lane: ``max_speed`` back to a tuple."""
    if lane.get("max_speed") is not None:
        lane["max_speed"] = tuple(lane["max_speed"])
    return lane


def load_cases(fixture_dir: str = FIXTURE_DIR,
               include_disabled: bool = False) -> list[dict]:
    """All *enabled* cases (test.rs:46-53,110-115), in corpus order.

    Tags come from each document's ``kind='tag'`` spans (split on the first
    ``=``, as span assembly does). The 16 ``rust: false`` cases the
    reference's own runner skips are not in the fixture, so
    ``include_disabled=True`` raises ``FileNotFoundError``.
    """
    import pyarrow.parquet as pq

    if include_disabled:
        raise FileNotFoundError(
            "the reference-disabled cases are not in the in-repo fixture")
    docs = {d["case_id"]: d for d in pq.read_table(
        os.path.join(fixture_dir, "documents.parquet")).to_pylist()}
    cases = []
    for g in pq.read_table(os.path.join(fixture_dir, "golden.parquet")).to_pylist():
        doc = docs[g["case_id"]]
        tags = dict(s["text"].split("=", 1) for s in doc["spans"]
                    if s["kind"] == "tag")
        cases.append({
            "enabled": True,
            "case_id": g["case_id"],
            "way_id": None,
            "description": None,
            "driving_side": doc["driving_side"],
            "iso_3166_2": doc["iso_3166_2"],
            "tags": tags,
            "expected_highway": g["expected_highway"],
            "expected_lanes": [_norm_lane(l) for l in json.loads(g["expected_json"])],
            "expect_warnings": g["expect_warnings"],
            "include_separators": g["include_separators"],
        })
    return cases


def expected_has_separators(case: dict) -> bool:
    return any(l.get("type") == "separator" for l in case["expected_lanes"])


def filter_enabled_lanes(case: dict, lanes: list[dict]) -> list[dict]:
    """is_lane_enabled (test.rs:308-315): drop separators unless the test
    both includes them and expects them."""
    keep_seps = case["include_separators"] and expected_has_separators(case)
    return [l for l in lanes if l.get("type") != "separator" or keep_seps]


# ---------------------------------------------------------------------------
# Interleaved documents (input_hint shape)
# ---------------------------------------------------------------------------

def tags_to_spans(doc_id: str, tags: dict[str, str]) -> list[dict]:
    """Encode a tag map as interleaved tag/media spans, deterministically.

    Media spans are derived from a hash of (doc_id, position) so the same
    document always produces the same byte-identical span sequence.
    """
    spans = []
    offset = 0
    for j, (k, v) in enumerate(sorted(tags.items())):
        # sprinkle a media span before every third tag span
        if j % 3 == 1:
            h = hashlib.sha1(f"{doc_id}:{j}".encode()).hexdigest()[:12]
            spans.append({"kind": "media", "text": f"img caption {h[:4]}",
                          "media_ref": f"media://{h}", "offset": offset})
            offset += 1
        spans.append({"kind": "tag", "text": f"{k}={v}", "media_ref": None,
                      "offset": offset})
        offset += 1
    if not spans:
        h = hashlib.sha1(doc_id.encode()).hexdigest()[:12]
        spans.append({"kind": "media", "text": "", "media_ref": f"media://{h}",
                      "offset": 0})
    return spans


def cases_to_documents(cases: list[dict]) -> list[dict]:
    """One interleaved document per case, keyed by its case id."""
    return [{"doc_id": case["case_id"],
             "case_id": case["case_id"],
             "driving_side": case["driving_side"],
             "iso_3166_2": case["iso_3166_2"],
             "spans": tags_to_spans(case["case_id"], case["tags"])}
            for case in cases]


def write_fixture_parquet(out_dir: str) -> dict[str, str]:
    """Write documents + golden parquet fixtures with pyarrow. Returns paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    cases = load_cases()
    docs = cases_to_documents(cases)

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    docs_tbl = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
        "case_id": pa.array([d["case_id"] for d in docs], pa.string()),
        "driving_side": pa.array([d["driving_side"] for d in docs], pa.string()),
        "iso_3166_2": pa.array([d["iso_3166_2"] for d in docs], pa.string()),
        "spans": pa.array([d["spans"] for d in docs], pa.list_(span_t)),
    })
    docs_path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(docs_tbl, docs_path)

    golden_tbl = pa.table({
        "case_id": pa.array([c["case_id"] for c in cases], pa.string()),
        "expected_json": pa.array([json.dumps(c["expected_lanes"]) for c in cases], pa.string()),
        "expected_highway": pa.array([c["expected_highway"] for c in cases], pa.string()),
        "expect_warnings": pa.array([c["expect_warnings"] for c in cases], pa.bool_()),
        "include_separators": pa.array([c["include_separators"] for c in cases], pa.bool_()),
    })
    golden_path = os.path.join(out_dir, "golden.parquet")
    pq.write_table(golden_tbl, golden_path)
    return {"documents": docs_path, "golden": golden_path}
