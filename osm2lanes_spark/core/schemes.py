"""Generic tag-scheme parsers.

Mirrors the ``osm-tag-schemes`` crate:
- highway + lifecycle: `/root/reference/osm-tag-schemes/src/highway.rs:71-104,230-248`
- lit / tracktype / smoothness: `lit.rs`, `track_type.rs`, `smoothness.rs`
- lane-dependent access lists: `access_by_lane.rs:22-135`

Unknown values of known keys become tri-state ``Unknown`` results (the
reference's ``Tagged::Unknown``), which callers turn into warnings.
"""

from __future__ import annotations

import re
from typing import Optional

HIGHWAY_TYPES = frozenset(
    [
        "motorway", "trunk", "primary", "secondary", "tertiary",
        "motorway_link", "trunk_link", "primary_link", "secondary_link", "tertiary_link",
        "raceway", "escape",
        "bridleway", "bus_guideway", "corridor", "cycleway", "footway",
        "living_street", "path", "pedestrian", "residential", "road",
        "service", "steps", "track", "unclassified",
    ]
)

# "road" parses to UnknownRoad and displays back as "road" (highway.rs:97,127)

LIT_VALUES = frozenset(["yes", "no", "sunset-sunrise", "automatic"])
TRACKTYPE_VALUES = frozenset(["grade1", "grade2", "grade3", "grade4", "grade5"])
SMOOTHNESS_VALUES = frozenset(
    ["impassable", "very_horrible", "horrible", "very_bad", "bad",
     "intermediate", "good", "excellent"]
)
# Lane-dependent access values (access_by_lane.rs:15-21): '' | no | yes | designated
LANE_ACCESS_VALUES = frozenset(["", "no", "yes", "designated"])

_USIZE_RE = re.compile(r"^\+?\d+$")
_F64_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


class HighwayError(Exception):
    """highway/construction/proposed value unknown or missing."""


def parse_highway(tags: dict[str, str]) -> Optional[dict]:
    """Highway::from_tags (highway.rs:230-248).

    Returns ``{"highway": type, "lifecycle": "active"|"construction"}`` or
    None when the way has no highway tag; raises HighwayError on unknown
    values. NB: the reference maps *proposed* ways to the Construction
    lifecycle too (highway.rs:246 calls ``Highway::construction``).
    """
    v = tags.get("highway")
    if v is None:
        return None
    if v in HIGHWAY_TYPES:
        return {"highway": v, "lifecycle": "active"}
    if v == "construction":
        c = tags.get("construction")
        if c is None:
            raise HighwayError("construction missing")
        if c in HIGHWAY_TYPES:
            return {"highway": c, "lifecycle": "construction"}
        raise HighwayError(f"construction={c}")
    if v == "proposed":
        p = tags.get("proposed")
        if p is None:
            raise HighwayError("proposed missing")
        if p in HIGHWAY_TYPES:
            return {"highway": p, "lifecycle": "construction"}
        raise HighwayError(f"proposed={p}")
    raise HighwayError(f"highway={v}")


def parse_enum(tags: dict[str, str], key: str, values: frozenset) -> tuple[Optional[str], Optional[str]]:
    """Tri-state parse: (value, None) | (None, None) | (None, unknown_raw)."""
    v = tags.get(key)
    if v is None:
        return None, None
    if v in values:
        return v, None
    return None, v


def parse_usize(s: str) -> Optional[int]:
    """Rust ``usize::from_str`` shape: decimal digits, optional leading +."""
    if _USIZE_RE.match(s):
        return int(s)
    return None


def parse_f64(s: str) -> Optional[float]:
    if _F64_RE.match(s):
        return float(s)
    return None


# ---------------------------------------------------------------------------
# Lane-dependent access (bus:lanes=|designated|  etc.)
# ---------------------------------------------------------------------------

class LaneAccessError(Exception):
    def __init__(self, kind: str, detail: str = ""):
        super().__init__(f"{kind}: {detail}")
        self.kind = kind  # 'unknown' | 'conflict'


def _split_access(value: str) -> list[str]:
    """access_by_lane.rs:22-26; raises on unknown member values."""
    parts = value.split("|")
    for p in parts:
        if p not in LANE_ACCESS_VALUES:
            raise LaneAccessError("unknown", p)
    return parts


def lane_dependent_access(tags: dict[str, str], key: str) -> Optional[tuple[str, object]]:
    """LaneDependentAccess::from_tags (access_by_lane.rs:82-135).

    Returns one of
    ``("ltr", [..])``, ``("forward", [..])``, ``("backward", [..])``,
    ``("fb", ([fwd..], [bwd..]))`` or None; raises LaneAccessError on
    unknown values or conflicting tag combinations.
    """
    total_s = tags.get(key)
    fwd_s = tags.get(key + ":forward")
    bwd_s = tags.get(key + ":backward")
    total = _split_access(total_s) if total_s is not None else None
    forward = _split_access(fwd_s) if fwd_s is not None else None
    backward = _split_access(bwd_s) if bwd_s is not None else None

    if forward is not None and backward is not None:
        if total is not None:
            if len(forward) + len(backward) != len(total):
                raise LaneAccessError("conflict")
            if list(forward) + list(reversed(backward)) != list(total)[: len(forward) + len(backward)]:
                raise LaneAccessError("conflict")
        return ("fb", (forward, backward))
    if total is None and forward is not None:
        return ("forward", forward)
    if total is None and backward is not None:
        return ("backward", backward)
    if total is not None:
        if forward is not None and any(l != r for l, r in zip(total, forward)):
            raise LaneAccessError("conflict")
        if backward is not None and any(
            l != r for l, r in zip(reversed(total), reversed(backward))
        ):
            raise LaneAccessError("conflict")
        return ("ltr", total)
    return None
