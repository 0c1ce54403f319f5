"""Core value types of the lane model.

String-enum conventions follow the reference's serde JSON shape
(`/root/reference/osm2lanes/src/road/lane.rs:8-40` — ``tag="type"``,
snake_case; ``Designated::Motor`` renames to ``motor_vehicle``), which is
also the shape fixed by ``data/spec-lanes.json``.

Lanes are plain dicts here (the Arrow/Spark struct uses the same field
names, see :mod:`osm2lanes_spark.schemas`); absent optional fields are
simply missing keys — matching serde's ``skip_serializing_if = "Option::is_none"``.
"""

from __future__ import annotations

import re
from typing import Optional

# Direction
FORWARD = "forward"
BACKWARD = "backward"
BOTH = "both"

# Designated
FOOT = "foot"
BICYCLE = "bicycle"
MOTOR = "motor_vehicle"
BUS = "bus"

# Lane types
TRAVEL = "travel"
PARKING = "parking"
SHOULDER = "shoulder"
SEPARATOR = "separator"

# Marking styles (road/separator.rs:77-94)
SOLID = "solid_line"
BROKEN = "broken_line"
DOTTED = "dotted_line"
NO_FILL = "no_fill"
KERB_UP = "kerb_up"
KERB_DOWN = "kerb_down"

# Colors
WHITE = "white"
RED = "red"
GREEN = "green"

MARKING_DEFAULT_WIDTH = 0.2  # road/separator.rs:64
MARKING_DEFAULT_SPACE = 0.1  # road/separator.rs:65

_STYLE_OPPOSITE = {KERB_UP: KERB_DOWN, KERB_DOWN: KERB_UP}


class RoadError(Exception):
    """Unrecoverable transform error (transform/error.rs RoadError)."""

    def __init__(self, kind: str, detail: str = ""):
        super().__init__(f"{kind}: {detail}" if detail else kind)
        self.kind = kind
        self.detail = detail


class WayNotRoad(RoadError):
    def __init__(self):
        super().__init__("way_not_road")


# ---------------------------------------------------------------------------
# Speed (metric.rs:55-117; serialization asymmetry at metric.rs:181-201)
# ---------------------------------------------------------------------------

_FLOAT_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")

KPH_PER_MPH = 1.60934
KPH_PER_KNOT = 1.852


class SpeedError(Exception):
    pass


def parse_speed(s: str) -> tuple[str, float]:
    """Parse ``"60"`` / ``"30 mph"`` / ``"5 knots"`` → (unit, value).

    Range-checked to 0–300 kph like the reference (metric.rs:100-117).
    """
    if not s:
        raise SpeedError("empty")
    if " " not in s:
        if not _FLOAT_RE.match(s):
            raise SpeedError(f"parse {s!r}")
        unit, value = "kph", float(s)
    else:
        num, _, unit_s = s.partition(" ")
        if unit_s == "mph":
            unit = "mph"
        elif unit_s == "knots":
            unit = "knots"
        else:
            raise SpeedError(f"unknown unit {unit_s!r}")
        if not _FLOAT_RE.match(num):
            raise SpeedError(f"parse {num!r}")
        value = float(num)
    if not (0.0 <= speed_kph((unit, value)) <= 300.0):
        raise SpeedError("out of range")
    return (unit, value)


def speed_kph(speed: tuple[str, float]) -> float:
    unit, value = speed
    if unit == "kph":
        return value
    if unit == "mph":
        return KPH_PER_MPH * value
    return KPH_PER_KNOT * value


def speed_to_osm(speed: tuple[str, float]) -> str:
    """Render for a ``maxspeed`` tag value (metric.rs Display)."""
    unit, value = speed
    num = format_float(value)
    if unit == "kph":
        return num
    return f"{num} {unit}"


def format_float(v: float) -> str:
    """Format like Rust's ``{}`` for f64: no trailing ``.0`` is kept?

    Rust Display for f64 prints ``30`` as ``30`` and ``30.5`` as ``30.5``
    — integral floats print *without* a decimal point.
    """
    if v == int(v):
        return str(int(v))
    return repr(v)


def speed_class(speed: tuple[str, float]) -> str:
    """Bucket kph into semantic classes (separator/semantic.rs:18-30)."""
    s = speed_kph(speed)
    if 0.0 <= s < 15.0:
        return "walking"
    if s < 40.0:
        return "living"
    if s < 70.0:
        return "intra"
    if s < 100.0:
        return "inter"
    if s < 200.0:
        return "max"
    raise RoadError("internal", f"unexpected speed {s}")


# ---------------------------------------------------------------------------
# Lane constructors (output dict shape)
# ---------------------------------------------------------------------------

def marking(style: str, color: Optional[str] = None, width: Optional[float] = None) -> dict:
    m: dict = {"style": style}
    if width is not None:
        m["width"] = width
    if color is not None:
        m["color"] = color
    return m


def flip_markings(markings: list[dict]) -> list[dict]:
    """Reverse order and invert kerb orientation (road/separator.rs:31-36)."""
    out = []
    for m in reversed(markings):
        m2 = dict(m)
        if m2["style"] in _STYLE_OPPOSITE:
            m2["style"] = _STYLE_OPPOSITE[m2["style"]]
        out.append(m2)
    return out


def separator_lane(semantic: Optional[str], markings: Optional[list[dict]]) -> dict:
    lane: dict = {"type": SEPARATOR}
    if semantic is not None:
        lane["semantic"] = semantic
    if markings is not None:
        lane["markings"] = markings
    return lane


def mirror_lane(lane: dict) -> dict:
    """road/lane.rs:68-81 — flips separator markings, otherwise identity."""
    if lane.get("type") == SEPARATOR and "markings" in lane:
        out = dict(lane)
        out["markings"] = flip_markings(lane["markings"])
        return out
    return lane


def is_motor(lane: dict) -> bool:
    return lane.get("type") == TRAVEL and lane.get("designated") == MOTOR


def is_bus(lane: dict) -> bool:
    return lane.get("type") == TRAVEL and lane.get("designated") == BUS


def is_foot(lane: dict) -> bool:
    return lane.get("type") == TRAVEL and lane.get("designated") == FOOT


def is_bicycle(lane: dict) -> bool:
    return lane.get("type") == TRAVEL and lane.get("designated") == BICYCLE


def is_separator(lane: dict) -> bool:
    return lane.get("type") == SEPARATOR


def is_shoulder(lane: dict) -> bool:
    return lane.get("type") == SHOULDER
