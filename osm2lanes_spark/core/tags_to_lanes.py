"""The forward transform: one way's tag map → ordered lane array.

Pure-Python row kernel mirroring the semantics of
`/root/reference/osm2lanes/src/transform/tags_to_lanes/` (mod.rs:121-182
drives the stages; counts.rs:30-203 infers lane counts; modes/* apply
per-mode rules in fixed order; road.rs:448-608 interleaves separators).

This function is *row-local* — in the engine it runs inside Arrow batches
via ``mapInArrow`` (see ``operators.lane_transform``); nothing here touches
Spark. Warnings are collected as ``(kind, detail)`` records, matching the
reference's issue taxonomy (transform/tags_to_lanes/error.rs:22-57).
"""

from __future__ import annotations

from typing import Optional

from .infer import Infer, InferConflict
from .locale import Locale, opposite_side
from .model import (BACKWARD, BICYCLE, BOTH, BROKEN, BUS, DOTTED, FOOT,
                    FORWARD, GREEN, KERB_UP, MARKING_DEFAULT_SPACE,
                    MARKING_DEFAULT_WIDTH, MOTOR, NO_FILL, PARKING, RED,
                    RoadError, SEPARATOR, SHOULDER, SOLID, TRAVEL, WHITE,
                    WayNotRoad, marking, mirror_lane, parse_speed,
                    separator_lane)
from . import schemes
from .schemes import (HighwayError, LaneAccessError, lane_dependent_access,
                      parse_enum, parse_f64, parse_highway, parse_usize)

# --------------------------------------------------------------------------
# Warnings
# --------------------------------------------------------------------------

DEPRECATED = "deprecated"
UNSUPPORTED = "unsupported"
UNIMPLEMENTED = "unimplemented"
AMBIGUOUS = "ambiguous"
SEP_LOCALE_UNUSED = "separator_locale_unused"
SEP_UNKNOWN = "separator_unknown"
INTERNAL = "internal"


class Warnings:
    __slots__ = ("items",)

    def __init__(self):
        self.items: list[dict] = []

    def push(self, kind: str, detail: str = ""):
        self.items.append({"kind": kind, "detail": detail})

    def __bool__(self):
        return bool(self.items)


def _msg_error(kind: str, detail: str = "") -> RoadError:
    return RoadError(kind, detail)


# --------------------------------------------------------------------------
# Tag helpers (osm-tags crate surface: lib.rs:154-221)
# --------------------------------------------------------------------------

def t_is(tags: dict, k: str, v: str) -> bool:
    return tags.get(k) == v


def t_is_any(tags: dict, k: str, vs) -> bool:
    return tags.get(k) in vs


def has_stem(tags: dict, stem: str) -> bool:
    """Non-empty ``pairs_with_stem`` (lib.rs:209-221)."""
    return any(k.startswith(stem) for k in tags)


def get_parsed_usize(tags: dict, key: str, warnings: Warnings) -> Optional[int]:
    """TagsNumeric::get_parsed (tags_to_lanes/mod.rs:37-63) for usize."""
    v = tags.get(key)
    if v is None:
        return None
    n = parse_usize(v)
    if n is None:
        warnings.push(UNSUPPORTED, f"{key}={v}")
        return None
    return n


def get_parsed_f64(tags: dict, key: str, warnings: Warnings) -> Optional[float]:
    v = tags.get(key)
    if v is None:
        return None
    n = parse_f64(v)
    if n is None:
        warnings.push(UNSUPPORTED, f"{key}={v}")
        return None
    return n


# --------------------------------------------------------------------------
# unsupported() early gate (unsupported.rs:9-68)
# --------------------------------------------------------------------------

ACCESS_KEYS = frozenset([
    "access", "dog", "ski", "inline_skates", "horse", "vehicle", "bicycle",
    "electric_bicycle", "carriage", "hand_cart", "quadracycle", "trailer",
    "caravan", "motor_vehicle", "motorcycle", "moped", "mofa", "motorcar",
    "motorhome", "tourist_bus", "coach", "goods", "hgv", "hgv_articulated",
    "bdouble", "agricultural", "golf_cart", "atv", "snowmobile", "psv",
    "bus", "taxi", "minibus", "share_taxi", "hov", "car_sharing",
    "emergency", "hazmat", "disabled", "roadtrain", "hgv_caravan", "lhv",
    "tank",
])


def check_unsupported(tags: dict, warnings: Warnings) -> None:
    if not ACCESS_KEYS.isdisjoint(tags):
        warnings.push(UNIMPLEMENTED, "access")


# --------------------------------------------------------------------------
# Oneway (oneway.rs:36-57)
# --------------------------------------------------------------------------

def oneway_from_tags(tags: dict, warnings: Warnings) -> bool:
    v = tags.get("oneway")
    roundabout = t_is(tags, "junction", "roundabout")
    if v == "yes":
        return True
    if v == "no":
        if roundabout:
            raise _msg_error(AMBIGUOUS, "oneway=no with junction=roundabout")
        return False
    if v is not None:
        raise _msg_error(UNIMPLEMENTED, f"oneway={v}")
    return roundabout


# --------------------------------------------------------------------------
# Busway scheme (modes/bus/busway.rs:66-161)
# --------------------------------------------------------------------------

_BUSWAY_NONE, _BUSWAY_FWD, _BUSWAY_BWD, _BUSWAY_BOTH = "none", "forward", "backward", "both"


def _get_bus_lane(tags: dict, key: str, warnings: Warnings) -> Optional[str]:
    v = tags.get(key)
    if v is None:
        return None
    if v in ("lane", "opposite_lane"):
        return v
    warnings.push(UNSUPPORTED, f"{key}={v}")
    return None


def busway_from_tags(tags: dict, road_oneway: bool, locale: Locale, warnings: Warnings) -> str:
    v = tags.get("oneway:bus")
    if v == "yes":
        bus_oneway = True
    elif v == "no":
        bus_oneway = False
    elif v is None:
        bus_oneway = road_oneway
    else:
        warnings.push(UNSUPPORTED, f"oneway:bus={v}")
        bus_oneway = road_oneway

    root = _get_bus_lane(tags, "busway", warnings)
    if root is None:
        busway_root = _BUSWAY_NONE
    elif root == "lane":
        busway_root = _BUSWAY_FWD if bus_oneway else _BUSWAY_BOTH
    else:  # opposite_lane
        # deprecated value: a bus lane on the contraflow side. The oneway
        # form matches busway.rs; the two-way form is what tests.yml
        # case/0035 expects (the reference runner disables that case —
        # engine exceeds reference coverage here, see COVERAGE.md).
        busway_root = _BUSWAY_BWD

    both_v = _get_bus_lane(tags, "busway:both", warnings)
    if both_v is None:
        busway_both = _BUSWAY_NONE
    elif both_v == "lane":
        busway_both = _BUSWAY_BOTH
    else:
        warnings.push(UNSUPPORTED, "busway:both=opposite_lane")
        busway_both = _BUSWAY_NONE

    fwd_key = "busway:" + locale.driving_side
    bwd_key = "busway:" + opposite_side(locale.driving_side)
    fwd_v = _get_bus_lane(tags, fwd_key, warnings)
    if fwd_v == "opposite_lane":
        warnings.push(UNSUPPORTED, f"{fwd_key}=opposite_lane")
    bwd_v = _get_bus_lane(tags, bwd_key, warnings)
    if fwd_v == "lane" and bwd_v is None:
        busway_fb = _BUSWAY_FWD
    elif fwd_v == "lane" and bwd_v is not None:
        busway_fb = _BUSWAY_BOTH
    elif bwd_v is not None:  # fwd none/opposite, bwd lane/opposite
        busway_fb = _BUSWAY_BWD
    else:
        busway_fb = _BUSWAY_NONE

    if busway_both == _BUSWAY_BOTH:
        if busway_fb in (_BUSWAY_FWD, _BUSWAY_BWD):
            warnings.push(AMBIGUOUS, "busway:both vs busway:<side>")
        if busway_root in (_BUSWAY_FWD, _BUSWAY_BWD):
            warnings.push(AMBIGUOUS, "busway vs busway:both")
        return _BUSWAY_BOTH
    if busway_fb != _BUSWAY_NONE:
        if busway_root != _BUSWAY_NONE and busway_root != busway_fb:
            warnings.push(AMBIGUOUS, "busway vs busway:<side>")
        return busway_fb
    return busway_root


def busway_forward(scheme: str) -> bool:
    return scheme in (_BUSWAY_FWD, _BUSWAY_BOTH)


def busway_backward(scheme: str) -> bool:
    return scheme in (_BUSWAY_BWD, _BUSWAY_BOTH)


# --------------------------------------------------------------------------
# Lane builders (road.rs:41-141)
# --------------------------------------------------------------------------

class Width:
    __slots__ = ("min", "target", "max")

    def __init__(self, min_=None, target=None, max_=None):
        self.min = min_ or Infer.none()
        self.target = target or Infer.none()
        self.max = max_ or Infer.none()


class AccessBuilder:
    __slots__ = ("foot", "bicycle", "taxi", "bus", "motor")

    def __init__(self):
        self.foot = Infer.none()
        self.bicycle = Infer.none()
        self.taxi = Infer.none()
        self.bus = Infer.none()
        self.motor = Infer.none()

    def build(self) -> Optional[dict]:
        """road.rs:64-82 — None when every mode is unset."""
        modes = [("foot", self.foot), ("bicycle", self.bicycle),
                 ("taxi", self.taxi), ("bus", self.bus), ("motor", self.motor)]
        if all(m.is_none() for _, m in modes):
            return None
        return {name: m.some() for name, m in modes if not m.is_none()}


class LaneBuilder:
    __slots__ = ("type", "direction", "designated", "width", "max_speed",
                 "access", "cycleway_variant")

    def __init__(self, type_=None, direction=None, designated=None,
                 width=None, max_speed=None, cycleway_variant=None):
        self.type = type_ or Infer.none()
        self.direction = direction or Infer.none()
        self.designated = designated or Infer.none()
        self.width = width or Width()
        self.max_speed = max_speed or Infer.none()
        self.access = AccessBuilder()
        self.cycleway_variant = cycleway_variant

    def is_bicycle(self) -> bool:
        return self.designated.some() == BICYCLE

    def set_bus(self) -> None:
        self.designated = Infer.direct(BUS)

    def build(self) -> dict:
        """LaneBuilder::build (road.rs:96-132) → output lane dict."""
        width = self.width.target.some()
        t = self.type.some()
        if t == TRAVEL:
            designated = self.designated.some()
            if designated is None:
                raise _msg_error(INTERNAL, "travel lane without designation")
            direction = None if designated == FOOT else self.direction.some()
            lane: dict = {"type": TRAVEL}
            if direction is not None:
                lane["direction"] = direction
            lane["designated"] = designated
            if width is not None:
                lane["width"] = width
            ms = self.max_speed.some()
            if ms is not None:
                lane["max_speed"] = ms
            access = self.access.build()
            if access is not None:
                lane["access"] = access
            return lane
        if t == PARKING:
            lane = {"type": PARKING,
                    "direction": self.direction.some(),
                    "designated": self.designated.some()}
            if lane["direction"] is None or lane["designated"] is None:
                raise _msg_error(INTERNAL, "parking lane underspecified")
            if width is not None:
                lane["width"] = width
            return lane
        if t == SHOULDER:
            lane = {"type": SHOULDER}
            if width is not None:
                lane["width"] = width
            return lane
        raise _msg_error(INTERNAL, "lane without type")


def _shoulder_lane(locale: Locale) -> LaneBuilder:
    """modes/foot_shoulder.rs:13-27 (NL default width 0.6 m)."""
    lane = LaneBuilder(type_=Infer.direct(SHOULDER))
    if locale.country == "NL":
        lane.width = Width(target=Infer.default(0.6))
    return lane


def _foot_lane(_locale: Locale) -> LaneBuilder:
    return LaneBuilder(type_=Infer.direct(TRAVEL), designated=Infer.direct(FOOT))


# --------------------------------------------------------------------------
# Lane count inference (counts.rs:30-203)
# --------------------------------------------------------------------------

def _centre_turn_lane_scheme(tags: dict, warnings: Warnings) -> Optional[bool]:
    """counts.rs:250-274 (deprecated centre_turn_lane tag)."""
    v = tags.get("centre_turn_lane")
    if v is None:
        return None
    warnings.push(DEPRECATED, "centre_turn_lane")
    if v == "yes":
        return True
    if v == "no":
        return False
    warnings.push(UNSUPPORTED, f"centre_turn_lane={v}")
    return None


def _lanes_direction_scheme(tags: dict, warnings: Warnings) -> dict:
    """counts.rs:216-243."""
    both_ways = get_parsed_usize(tags, "lanes:both_ways", warnings)
    if both_ways is not None and both_ways != 1:
        warnings.push(UNSUPPORTED, "lanes:both_ways must be 1")
        both_ways = None
    return {
        "total": get_parsed_usize(tags, "lanes", warnings),
        "forward": get_parsed_usize(tags, "lanes:forward", warnings),
        "backward": get_parsed_usize(tags, "lanes:backward", warnings),
        "both_ways": both_ways is not None,
    }


class Counts:
    """Either one bidirectional lane, or directional counts."""

    __slots__ = ("one", "forward", "backward", "centre_turn_lane")

    def __init__(self, one=False, forward=None, backward=None, centre=None):
        self.one = one
        self.forward = forward or Infer.none()
        self.backward = backward or Infer.none()
        self.centre_turn_lane = centre or Infer.none()


def counts_new(tags: dict, oneway: bool, highway_type: str,
               centre_scheme: Optional[bool], bus_forward: int,
               bus_backward: int, locale: Locale, warnings: Warnings) -> Counts:
    lanes = _lanes_direction_scheme(tags, warnings)

    bw, ctl = lanes["both_ways"], centre_scheme
    if bw and (ctl is None or ctl is True):
        centre = Infer.direct(True)
    elif not bw and ctl is True:
        centre = Infer.calculated(True)
    elif not bw and ctl is False:
        centre = Infer.calculated(False)
    elif not bw and ctl is None:
        centre = Infer.default(False)
    else:  # both_ways tagged but centre_turn_lane=no
        warnings.push(AMBIGUOUS, "lanes:both_ways vs centre_turn_lane")
        centre = Infer.default(True)
    both_ways = 1 if centre.some() else 0

    total, forward, backward = lanes["total"], lanes["forward"], lanes["backward"]

    if oneway:
        if lanes["both_ways"] or backward is not None:
            warnings.push(AMBIGUOUS, "oneway with lanes:both_ways/lanes:backward")
        if total is not None:
            fwd = total - both_ways - bus_backward
            if fwd < 0:
                raise _msg_error(INTERNAL, "negative forward lane count")
            if forward is not None and forward != fwd:
                warnings.push(AMBIGUOUS, "oneway lanes vs lanes:forward")
            return Counts(forward=Infer.calculated(fwd),
                          backward=Infer.calculated(bus_backward), centre=centre)
        if forward is not None:
            return Counts(forward=Infer.direct(forward),
                          backward=Infer.default(0), centre=centre)
        return Counts(forward=Infer.default(1 + bus_forward),
                      backward=Infer.default(0), centre=centre)

    # two-way
    if total is not None and forward is not None and backward is not None:
        if total != forward + backward + both_ways:
            warnings.push(AMBIGUOUS, "lanes != lanes:forward + lanes:backward + both_ways")
        return Counts(forward=Infer.direct(forward), backward=Infer.direct(backward), centre=centre)
    if total is None and forward is not None and backward is not None:
        return Counts(forward=Infer.direct(forward), backward=Infer.direct(backward), centre=centre)
    if total is not None and forward is not None and backward is None:
        return Counts(forward=Infer.direct(forward),
                      backward=Infer.calculated(total - forward - both_ways), centre=centre)
    if total is not None and forward is None and backward is not None:
        return Counts(forward=Infer.calculated(total - backward - both_ways),
                      backward=Infer.direct(backward), centre=centre)
    if total is not None and forward is None and backward is None:
        if total == 1:
            return Counts(one=True)
        if total % 2 == 0 and centre.some():
            return Counts(forward=Infer.default(total // 2),
                          backward=Infer.default(total // 2), centre=centre)
        remaining = total - both_ways - bus_forward - bus_backward
        if remaining % 2 != 0:
            warnings.push(AMBIGUOUS, "total lane count cannot be evenly divided")
        half = (remaining + 1) // 2
        return Counts(forward=Infer.default(half + bus_forward),
                      backward=Infer.default(remaining - half - both_ways + bus_backward),
                      centre=centre)
    if total is None and forward is None and backward is None:
        if locale.has_split_lanes(highway_type) or bus_forward > 0 or bus_backward > 0:
            return Counts(forward=Infer.default(1 + bus_forward),
                          backward=Infer.default(1 + bus_backward), centre=centre)
        return Counts(one=True)
    # total None, one of forward/backward set (counts.rs:186-200)
    if locale.has_split_lanes(highway_type):
        # NB: the reference defaults *backward* from bus.forward too
        # (counts.rs:190) — replicated faithfully.
        f = Infer.direct(forward) if forward is not None else Infer.default(1 + bus_forward)
        b = Infer.direct(backward) if backward is not None else Infer.default(1 + bus_forward)
        return Counts(forward=f, backward=b, centre=centre)
    return Counts(one=True)


# --------------------------------------------------------------------------
# RoadBuilder (road.rs:143-291)
# --------------------------------------------------------------------------

class RoadBuilder:
    def __init__(self, forward_lanes, backward_lanes, highway: dict, oneway: bool):
        self.forward_lanes: list[LaneBuilder] = forward_lanes  # inside → outside
        self.backward_lanes: list[LaneBuilder] = backward_lanes
        self.highway = highway
        self.oneway = oneway

    # Deque-view helpers (road.rs:298-359)
    def __len__(self):
        return len(self.forward_lanes) + len(self.backward_lanes)

    def forward_inside(self):
        return self.forward_lanes[0] if self.forward_lanes else None

    def forward_outside(self):
        return self.forward_lanes[-1] if self.forward_lanes else None

    def backward_inside(self):
        return self.backward_lanes[0] if self.backward_lanes else None

    def backward_outside(self):
        return self.backward_lanes[-1] if self.backward_lanes else None

    def push_forward_outside(self, lane):
        self.forward_lanes.append(lane)

    def push_backward_outside(self, lane):
        self.backward_lanes.append(lane)

    def lanes_ltr(self, locale: Locale):
        """road.rs:361-379 — driving-side dependent left→right view."""
        if locale.driving_side == "left":
            return list(reversed(self.forward_lanes)) + list(self.backward_lanes)
        return list(reversed(self.backward_lanes)) + list(self.forward_lanes)

    def forward_ltr(self, locale: Locale):
        if locale.driving_side == "left":
            return list(reversed(self.forward_lanes))
        return list(self.forward_lanes)

    def backward_ltr(self, locale: Locale):
        if locale.driving_side == "left":
            return list(reversed(self.backward_lanes))
        return list(self.backward_lanes)


def road_builder_from(tags: dict, locale: Locale, oneway: bool, busway: str,
                      warnings: Warnings) -> RoadBuilder:
    try:
        highway = parse_highway(tags)
    except HighwayError as e:
        raise _msg_error(UNSUPPORTED, str(e))
    if highway is None:
        raise WayNotRoad()

    # Seattle-style bus-only roads (road.rs:184-195)
    mvc = tags.get("motor_vehicle:conditional")
    if (t_is(tags, "access", "no") and (t_is(tags, "bus", "yes") or t_is(tags, "psv", "yes"))) or (
            mvc is not None and mvc.startswith("no") and t_is(tags, "bus", "yes")):
        designated = BUS
    else:
        designated = MOTOR

    max_speed = None
    ms_val = tags.get("maxspeed")
    if ms_val is not None:
        try:
            max_speed = parse_speed(ms_val)
        except Exception:
            warnings.push(UNSUPPORTED, f"maxspeed={ms_val}")
            max_speed = None

    default_width = locale.travel_width(designated)

    bus_forward = get_parsed_usize(tags, "lanes:bus:forward", warnings)
    if bus_forward is None:
        bus_forward = 1 if busway_forward(busway) else 0
    bus_backward = get_parsed_usize(tags, "lanes:bus:backward", warnings)
    if bus_backward is None:
        bus_backward = 1 if busway_backward(busway) else 0

    centre_scheme = _centre_turn_lane_scheme(tags, warnings)
    counts = counts_new(tags, oneway, highway["highway"], centre_scheme,
                        bus_forward, bus_backward, locale, warnings)

    def seed(direction: str) -> LaneBuilder:
        return LaneBuilder(
            type_=Infer.default(TRAVEL),
            direction=Infer.default(direction),
            designated=Infer.default(designated),
            max_speed=Infer.direct(max_speed),
            width=Width(target=Infer.default(default_width)),
        )

    if not counts.one:
        forward_lanes = [seed(FORWARD) for _ in range(counts.forward.some() or 0)]
        backward_lanes = [seed(BACKWARD) for _ in range(counts.backward.some() or 0)]
        if counts.centre_turn_lane.some():
            centre = LaneBuilder(
                type_=Infer.default(TRAVEL),
                direction=Infer.default(BOTH),
                designated=Infer.default(designated),
                width=Width(target=Infer.default(default_width)),
            )
            forward_lanes.insert(0, centre)
        return RoadBuilder(forward_lanes, backward_lanes, highway, oneway)
    lane = LaneBuilder(
        type_=Infer.default(TRAVEL),
        direction=Infer.default(BOTH),
        designated=Infer.default(designated),
        width=Width(target=Infer.default(default_width)),
    )
    return RoadBuilder([lane], [], highway, oneway)


# --------------------------------------------------------------------------
# Mode stages (modes/*, applied in fixed order — mod.rs:145-159)
# --------------------------------------------------------------------------

def apply_non_motorized(tags: dict, locale: Locale, road: RoadBuilder,
                        warnings: Warnings) -> None:
    """modes/non_motorized.rs:11-41."""
    v = tags.get("highway")
    if v not in ("steps", "path"):
        return
    if len(road) != 1:
        raise _msg_error(INTERNAL, "non-motorized road with multiple lanes")
    lane = road.forward_outside()
    try:
        lane.designated.set(Infer.direct(FOOT))
        lane.direction.set(Infer.direct(BOTH))
        lane.access.foot.set(Infer.direct({"access": "designated"}))
        lane.access.motor.set(Infer.direct({"access": "no"}))
    except InferConflict as e:
        raise _msg_error(INTERNAL, str(e))
    if v == "steps":
        warnings.push(UNIMPLEMENTED, "steps becomes sidewalk")


def apply_busway(road: RoadBuilder, scheme: str) -> None:
    """modes/bus/busway.rs:163-185."""
    if busway_forward(scheme):
        lane = road.forward_outside()
        if lane is None:
            raise _msg_error(UNSUPPORTED, "no forward lanes for busway")
        lane.set_bus()
    if busway_backward(scheme):
        lane = road.backward_outside()
        if lane is not None:
            lane.set_bus()
        else:
            inner = road.forward_inside()
            if inner is None:
                raise _msg_error(UNSUPPORTED, "no forward lanes for busway")
            inner.set_bus()
            inner.direction = Infer.direct(BACKWARD)


def apply_bus(busway: str, tags: dict, locale: Locale, road: RoadBuilder,
              warnings: Warnings) -> None:
    """Dispatcher (modes/bus/mod.rs:55-83) with a relaxation the corpus
    demands: the reference errors whenever more than one of the three
    bus-tagging schemes co-occurs, which disables real-world ways that tag
    redundantly-but-consistently (tests.yml cases 0042/0058/0059). When
    the positional ``bus:lanes``/``psv:lanes`` list is present alongside
    busway/lanes:bus, the positional list is the most specific statement
    and is applied; a genuine CONFLICT (bus:lanes ≠ psv:lanes) still
    errors."""
    scheme_busway = has_stem(tags, "busway")
    scheme_lanes_bus = has_stem(tags, "lanes:bus") or has_stem(tags, "lanes:psv")
    scheme_bus_lanes = has_stem(tags, "bus:lanes") or has_stem(tags, "psv:lanes")
    picked = (scheme_busway, scheme_lanes_bus, scheme_bus_lanes)
    if picked == (False, False, False):
        return
    # a lanes:bus / lanes:psv count statement is never applied (the
    # reference's own path is unimplemented, mod.rs:76-78) — keep the
    # dropped statement visible, EXCEPT where busway is actually applied
    # instead: the reference's (true, _, false) arm (mod.rs:72) applies
    # busway with no warning at all, so warning there would diverge from
    # its expect_warnings output (ADVICE r03). In the all-three arm the
    # positional list wins (relaxation below) and busway is NOT applied,
    # so the dropped count statement stays visible (round-4 review).
    busway_applies = scheme_busway and not scheme_bus_lanes
    if scheme_lanes_bus and not busway_applies:
        warnings.push(UNIMPLEMENTED, "lanes:bus / lanes:psv")
    if scheme_busway and not scheme_bus_lanes:
        apply_busway(road, busway)
        return
    if picked == (False, True, False):
        return
    _apply_bus_lanes(tags, locale, road)


def _apply_bus_lanes(tags: dict, locale: Locale, road: RoadBuilder) -> None:
    """bus:lanes / psv:lanes positional lists (modes/bus/mod.rs:107-186).

    Two corpus-driven extensions over the reference (which disables the
    cases exercising them): identical bus:lanes and psv:lanes lists are
    accepted as one statement (case/0058), and a lane tagged
    ``access:lanes…=no`` with ``bus:lanes…=yes`` is bus-designated — no
    general traffic, buses allowed, is a bus lane (case/0042)."""
    try:
        bus = lane_dependent_access(tags, "bus:lanes")
        psv = lane_dependent_access(tags, "psv:lanes")
        acc = lane_dependent_access(tags, "access:lanes")
    except LaneAccessError as e:
        raise _msg_error(UNSUPPORTED, str(e))
    if bus is not None and psv is not None and bus != psv:
        raise _msg_error(UNSUPPORTED, "more than one bus:lanes used")
    scheme = bus if bus is not None else psv
    if scheme is None:
        return

    def _designates(bus_access, general_access) -> bool:
        return bus_access == "designated" or (
            bus_access == "yes" and general_access == "no")

    def _general(kind, idx, sub=None):
        if acc is None:
            return None
        akind, alanes = acc
        if akind != kind:
            return None
        seq = alanes if sub is None else alanes[sub]
        return seq[idx] if idx < len(seq) else None
    kind, lanes = scheme
    if kind == "ltr":
        if len(lanes) != len(road):
            raise _msg_error(UNSUPPORTED, "lane count mismatch")
        for i, (lane, access) in enumerate(zip(road.lanes_ltr(locale), lanes)):
            if _designates(access, _general("ltr", i)):
                lane.set_bus()
    elif kind == "forward":
        for i, (lane, access) in enumerate(zip(road.forward_ltr(locale), lanes)):
            if _designates(access, _general("forward", i)):
                lane.set_bus()
    elif kind == "backward":
        for i, (lane, access) in enumerate(zip(road.backward_ltr(locale), lanes)):
            if _designates(access, _general("backward", i)):
                lane.set_bus()
    else:  # forward + backward
        forward, backward = lanes
        if len(forward) + len(backward) != len(road):
            raise _msg_error(UNSUPPORTED, "lane count mismatch")
        for i, (lane, access) in enumerate(zip(road.forward_ltr(locale), forward)):
            if _designates(access, _general("both", i, 0)):
                lane.set_bus()
        for i, (lane, access) in enumerate(zip(road.backward_ltr(locale), backward)):
            if _designates(access, _general("both", i, 1)):
                lane.set_bus()


def _apply_maxspeed_lanes(tags: dict, locale: Locale, road: RoadBuilder,
                          warnings: Warnings) -> None:
    """Positional per-lane speed limits: ``maxspeed:lanes`` (+ the
    :forward/:backward variants), '|'-separated left-to-right, empty entry
    = unspecified (tests.yml case/0060, reference-disabled)."""
    def apply(key: str, lanes_ltr: list) -> None:
        v = tags.get(key)
        if v is None:
            return
        entries = v.split("|")
        if len(entries) != len(lanes_ltr):
            warnings.push(UNSUPPORTED, f"{key} lane count mismatch")
            return
        for lane, e in zip(lanes_ltr, entries):
            if not e:
                continue
            try:
                lane.max_speed = Infer.direct(parse_speed(e))
            except Exception:
                warnings.push(UNSUPPORTED, f"{key}={v}")
                return

    apply("maxspeed:lanes",
          road.forward_ltr(locale) if road.oneway else road.lanes_ltr(locale))
    apply("maxspeed:lanes:forward", road.forward_ltr(locale))
    apply("maxspeed:lanes:backward", road.backward_ltr(locale))


# --- bicycle (modes/bicycle/cycleway.rs) -----------------------------------

_CYCLEWAY_VALUES = {
    "lane": ("lane", False),
    "track": ("track", False),
    "opposite_lane": ("lane", True),
    "opposite_track": ("track", True),
    "opposite": ("shared_motor", True),
}
_CYCLEWAY_UNIMPLEMENTED = frozenset(
    ["shared_lane", "share_busway", "opposite_share_busway", "shared",
     "shoulder", "separate"])


def _cycleway_variant(tags: dict, key: str):
    """get_variant (cycleway.rs:73-106).

    Returns ("some", variant, opposite) | ("no",) | ("none",) or raises a
    (kind, key, value) tuple via LaneAccessError-style ValueError.
    """
    v = tags.get(key)
    if v is None:
        return ("none",)
    if v == "no":
        return ("no",)
    if v in _CYCLEWAY_VALUES:
        variant, opposite = _CYCLEWAY_VALUES[v]
        return ("some", variant, opposite)
    kind = UNIMPLEMENTED if v in _CYCLEWAY_UNIMPLEMENTED else UNSUPPORTED
    raise _CyclewayVariantError(kind, f"{key}={v}")


class _CyclewayVariantError(Exception):
    def __init__(self, kind, detail):
        self.kind = kind
        self.detail = detail


class CyclewayWay:
    __slots__ = ("variant", "direction", "width")

    def __init__(self, variant, direction, width=None):
        self.variant = variant
        self.direction = direction
        self.width = width  # Optional[Width]


def _scheme_cycleway(tags: dict, locale: Locale, oneway: bool, warnings: Warnings):
    """cycleway=* (cycleway.rs:262-339). Returns ('none')/('forward',way)/... or None."""
    try:
        var = _cycleway_variant(tags, "cycleway")
    except _CyclewayVariantError as e:
        warnings.push(e.kind, e.detail)
        return None
    if var[0] == "none":
        return None
    if var[0] == "no":
        return ("none",)
    _, variant, opposite = var
    if oneway:
        if not opposite:
            return ("forward", CyclewayWay(variant, FORWARD))
        if variant in ("lane", "track"):
            warnings.push(DEPRECATED, "cycleway=opposite_* deprecated")
        return ("backward", CyclewayWay(variant, BACKWARD))
    if opposite:
        raise _msg_error(UNSUPPORTED, "cycleway=opposite on twoway")
    return ("both", CyclewayWay(variant, FORWARD), CyclewayWay(variant, BACKWARD))


def _scheme_cycleway_both(tags: dict, warnings: Warnings):
    """cycleway:both=* (cycleway.rs:345-384)."""
    try:
        var = _cycleway_variant(tags, "cycleway:both")
    except _CyclewayVariantError as e:
        warnings.push(e.kind, e.detail)
        return None
    if var[0] == "none":
        return None
    if var[0] == "no":
        return ("none",)
    _, variant, opposite = var
    if opposite:
        warnings.push(UNSUPPORTED, "cycleway:both=opposite_*")
    return ("both", CyclewayWay(variant, FORWARD), CyclewayWay(variant, BACKWARD))


def _parsed_width(tags: dict, key: str, warnings: Warnings):
    w = get_parsed_f64(tags, key, warnings)
    if w is None:
        return None
    return Width(target=Infer.direct(w))


def _scheme_cycleway_forward(tags: dict, locale: Locale, warnings: Warnings):
    """cycleway:<driving-side>=* (cycleway.rs:390-435)."""
    side = locale.driving_side
    key = "cycleway:" + side
    try:
        var = _cycleway_variant(tags, key)
    except _CyclewayVariantError as e:
        warnings.push(e.kind, e.detail)
        return None
    if var[0] == "none":
        return None
    if var[0] == "no":
        return ("none",)
    _, variant, _opposite = var
    width = _parsed_width(tags, key + ":width", warnings)
    if t_is(tags, key + ":oneway", "no") or t_is(tags, "oneway:bicycle", "no"):
        return ("forward", CyclewayWay(variant, BOTH, width))
    return ("forward", CyclewayWay(variant, FORWARD, width))


def _scheme_cycleway_backward(tags: dict, locale: Locale, oneway: bool, warnings: Warnings):
    """cycleway:<opposite-side>=* (cycleway.rs:441-514)."""
    side = opposite_side(locale.driving_side)
    key = "cycleway:" + side
    try:
        var = _cycleway_variant(tags, key)
    except _CyclewayVariantError as e:
        warnings.push(e.kind, e.detail)
        return None
    if var[0] == "none":
        return None
    if var[0] == "no":
        return ("none",)
    _, variant, _opposite = var
    width = _parsed_width(tags, key + ":width", warnings)
    oneway_key = key + ":oneway"
    if t_is(tags, oneway_key, "yes"):
        return ("backward", CyclewayWay(variant, FORWARD, width))
    if t_is(tags, oneway_key, "-1"):
        return ("backward", CyclewayWay(variant, BACKWARD, width))
    if t_is(tags, oneway_key, "no") or t_is(tags, "oneway:bicycle", "no"):
        if oneway and variant == "lane" and not t_is(tags, oneway_key, "no"):
            # a painted contraflow LANE on a oneway street carries bikes
            # against traffic only — with-flow bikes share the motor lane
            # (tests.yml case/0028, reference-disabled); a TRACK stays
            # bidirectional (enabled case/0045)
            return ("backward", CyclewayWay(variant, BACKWARD, width))
        return ("backward", CyclewayWay(variant, BOTH, width))
    if oneway:
        # A oneway road with a cycleway on the wrong side
        return ("backward", CyclewayWay(variant, FORWARD, width))
    # A contraflow bicycle lane
    return ("backward", CyclewayWay(variant, BACKWARD, width))


def cycleway_scheme(tags: dict, locale: Locale, oneway: bool, warnings: Warnings):
    """Scheme::from_tags precedence reconciliation (cycleway.rs:150-256)."""
    root = _scheme_cycleway(tags, locale, oneway, warnings)
    both = _scheme_cycleway_both(tags, warnings)
    fwd = _scheme_cycleway_forward(tags, locale, warnings)
    bwd = _scheme_cycleway_backward(tags, locale, oneway, warnings)

    if root is not None or both is not None:
        winner, others = (root, [both, fwd, bwd]) if root is not None else (both, [fwd, bwd])
        for other in others:
            if other is not None:
                warnings.push(UNSUPPORTED, "conflicting cycleway schemes")
        return winner
    if fwd is not None and bwd is None:
        return fwd
    if fwd is None and bwd is not None:
        return bwd
    if fwd is not None and bwd is not None:
        if bwd[0] == "none":
            return fwd
        if fwd[0] == "none":
            return bwd
        if fwd[0] == "forward" and bwd[0] == "backward":
            return ("both", fwd[1], bwd[1])
        raise _msg_error(INTERNAL, "cannot join cycleways")
    return ("none",)


def _cycle_lane(way: CyclewayWay) -> LaneBuilder:
    """LaneBuilder::cycle (modes/bicycle/mod.rs:15-24)."""
    return LaneBuilder(
        type_=Infer.direct(TRAVEL),
        direction=Infer.direct(way.direction),
        designated=Infer.direct(BICYCLE),
        width=way.width or Width(),
        cycleway_variant=way.variant,
    )


def _cycle_positional(tags: dict, key: str):
    """Positional ``cycleway:lanes[:dir]`` list (tests.yml case/0030):
    'lane' entries are cycle lanes INSERTED at that position among the
    direction's lanes; ''/'no' entries are the existing vehicle lanes."""
    v = tags.get(key)
    if v is None:
        return None
    entries = v.split("|")
    for e in entries:
        if e not in ("", "no", "lane"):
            raise _msg_error(UNSUPPORTED, f"unknown: {e}")
    return entries if any(e == "lane" for e in entries) else None


def _insert_positional_cycle(road: RoadBuilder, locale: Locale, way,
                             entries: list, backward: bool) -> None:
    existing = road.backward_ltr(locale) if backward else road.forward_ltr(locale)
    n_cycle = sum(1 for e in entries if e == "lane")
    if len(entries) != len(existing) + n_cycle:
        raise _msg_error(UNSUPPORTED, "cycleway:lanes count mismatch")
    it = iter(existing)
    new_ltr = []
    for e in entries:
        new_ltr.append(_cycle_lane(way) if e == "lane" else next(it))
    target = road.backward_lanes if backward else road.forward_lanes
    target[:] = (list(reversed(new_ltr))
                 if locale.driving_side == "left" else new_ltr)


def apply_bicycle(tags: dict, locale: Locale, road: RoadBuilder, warnings: Warnings) -> None:
    """modes/bicycle/mod.rs:27-67, plus the positional
    ``cycleway:lanes:forward/backward`` scheme the reference only parses
    (cycleway_lanes.rs:9-20 is validation-only and its runner disables
    case/0030): when a positional list is present for a side, the cycle
    lane lands at the listed position instead of the outside edge."""
    scheme = cycleway_scheme(tags, locale, road.oneway, warnings)
    fwd_pos = _cycle_positional(tags, "cycleway:lanes:forward")
    bwd_pos = _cycle_positional(tags, "cycleway:lanes:backward")
    if _cycle_positional(tags, "cycleway:lanes") is not None:
        warnings.push(UNIMPLEMENTED, "whole-road cycleway:lanes")

    done = {"fwd": False, "bwd": False}

    def add_forward(way) -> None:
        done["fwd"] = True
        if fwd_pos:
            _insert_positional_cycle(road, locale, way, fwd_pos, backward=False)
        else:
            road.push_forward_outside(_cycle_lane(way))

    def add_backward(way) -> None:
        done["bwd"] = True
        if bwd_pos:
            _insert_positional_cycle(road, locale, way, bwd_pos, backward=True)
        else:
            road.push_backward_outside(_cycle_lane(way))

    kind = scheme[0]
    if kind == "forward":
        way = scheme[1]
        if way.variant in ("lane", "track"):
            add_forward(way)
    elif kind == "backward":
        way = scheme[1]
        if way.variant in ("lane", "track"):
            add_backward(way)
        elif way.variant == "shared_motor":
            lane = road.forward_outside()
            if lane is None:
                raise _msg_error(UNSUPPORTED, "no forward lanes for cycleway")
            lane.access.bicycle = Infer.direct({"access": "yes", "direction": BOTH})
    elif kind == "both":
        add_forward(scheme[1])
        add_backward(scheme[2])
    # a positional list can stand alone (no cycleway=*/:side scheme for
    # that side) — e.g. the case/0030 roundtrip emits cycleway:right=lane
    # for the forward edge bike plus cycleway:lanes:backward for the
    # interior backward bike
    if fwd_pos and not done["fwd"]:
        _insert_positional_cycle(road, locale, CyclewayWay("lane", FORWARD),
                                 fwd_pos, backward=False)
    if bwd_pos and not done["bwd"]:
        _insert_positional_cycle(road, locale, CyclewayWay("lane", BACKWARD),
                                 bwd_pos, backward=True)


def apply_parking(tags: dict, road: RoadBuilder) -> None:
    """modes/parking.rs:28-45 (note: literal left/right keys, not
    driving-side mapped)."""
    has_parking = ("parallel", "diagonal", "perpendicular")
    fwd = t_is_any(tags, "parking:lane:right", has_parking) or \
        t_is_any(tags, "parking:lane:both", has_parking)
    back = t_is_any(tags, "parking:lane:left", has_parking) or \
        t_is_any(tags, "parking:lane:both", has_parking)
    if fwd:
        road.push_forward_outside(LaneBuilder(
            type_=Infer.direct(PARKING), direction=Infer.direct(FORWARD),
            designated=Infer.direct(MOTOR)))
    if back:
        road.push_backward_outside(LaneBuilder(
            type_=Infer.direct(PARKING), direction=Infer.direct(BACKWARD),
            designated=Infer.direct(MOTOR)))


# --- foot & shoulder (modes/foot_shoulder.rs) ------------------------------

SW_UNKNOWN, SW_NO, SW_YES, SW_SEPARATE = "unknown", "no", "yes", "separate"


def _sidewalk_from_tags(tags: dict, locale: Locale, warnings: Warnings):
    """Sidewalk::from_tags (foot_shoulder.rs:57-125) → (forward, backward)."""
    side_tag = locale.driving_side
    opp_tag = opposite_side(locale.driving_side)
    v = tags.get("sidewalk")
    v_both = tags.get("sidewalk:both")
    v_fwd = tags.get("sidewalk:" + side_tag)
    v_bwd = tags.get("sidewalk:" + opp_tag)

    err = _msg_error(UNSUPPORTED, "conflicting sidewalk tags")
    if v is not None and v_both is None and v_fwd is None and v_bwd is None:
        if v == "none":
            warnings.push(DEPRECATED, "sidewalk=none")
            return (SW_NO, SW_NO)
        if v == "no":
            return (SW_NO, SW_NO)
        if v == "yes":
            warnings.push(AMBIGUOUS, "sidewalk=yes")
            return (SW_YES, SW_YES)
        if v == "both":
            return (SW_YES, SW_YES)
        if v == side_tag:
            return (SW_YES, SW_NO)
        if v == opp_tag:
            return (SW_NO, SW_YES)
        if v == "separate":
            return (SW_SEPARATE, SW_SEPARATE)
        raise err
    if v is None and v_both is not None and v_fwd is None and v_bwd is None:
        if v_both == "no":
            return (SW_NO, SW_NO)
        if v_both == "yes":
            return (SW_YES, SW_YES)
        if v_both == "separate":
            return (SW_SEPARATE, SW_SEPARATE)
        raise err
    if v is None and v_both is None:
        if v_fwd is None and v_bwd is None:
            return (SW_UNKNOWN, SW_UNKNOWN)
        if v_fwd == "yes" and v_bwd == "yes":
            return (SW_YES, SW_YES)
        if v_fwd == "yes" and (v_bwd is None or v_bwd == "no"):
            return (SW_YES, SW_NO)
        if (v_fwd is None or v_fwd == "no") and v_bwd == "yes":
            return (SW_NO, SW_YES)
        if v_fwd == "separate" and v_bwd is None:
            return (SW_SEPARATE, SW_NO)
        if v_fwd is None and v_bwd == "separate":
            return (SW_NO, SW_SEPARATE)
        raise err
    raise err


SH_UNKNOWN, SH_YES, SH_NO = "unknown", "yes", "no"


def _shoulder_from_tags(tags: dict, locale: Locale):
    """Shoulder::from_tags (foot_shoulder.rs:137-153)."""
    v = tags.get("shoulder")
    if v is None:
        return (SH_UNKNOWN, SH_UNKNOWN)
    if v == "no":
        return (SH_NO, SH_NO)
    if v in ("yes", "both"):
        return (SH_YES, SH_YES)
    if v == locale.driving_side:
        return (SH_YES, SH_NO)
    if v == opposite_side(locale.driving_side):
        return (SH_NO, SH_YES)
    raise _msg_error(UNSUPPORTED, f"shoulder={v}")


def apply_foot_and_shoulder(tags: dict, locale: Locale, road: RoadBuilder,
                            warnings: Warnings) -> None:
    """modes/foot_shoulder.rs:156-231."""
    sidewalk = _sidewalk_from_tags(tags, locale, warnings)
    shoulder = _shoulder_from_tags(tags, locale)

    def add_side(sw: str, sh: str, forward: bool) -> None:
        outside = road.forward_outside() if forward else road.backward_outside()
        if sw in (SW_NO, SW_UNKNOWN) and sh == SH_UNKNOWN:
            # a dedicated bicycle OR bus lane at the edge suppresses the
            # default shoulder (an edge bus lane marks an urban kerbside —
            # tests.yml cases 0056/0057/0061, reference-disabled)
            has_dedicated_outside = outside is not None and (
                outside.is_bicycle() or outside.designated.some() == BUS)
            # a single-lane two-way road needs pull-aside space on both
            # sides regardless of class (tests.yml case/0055)
            single_lane_twoway = tags.get("lanes") == "1" and not road.oneway
            if (not has_dedicated_outside
                    and (locale.has_shoulder(road.highway["highway"])
                         or single_lane_twoway)
                    and (forward or not road.oneway)
                    and not t_is(tags, "parking:condition:both", "no_stopping")):
                lane = _shoulder_lane(locale)
                (road.push_forward_outside if forward else road.push_backward_outside)(lane)
        elif sw == SW_YES and sh in (SH_NO, SH_UNKNOWN):
            (road.push_forward_outside if forward else road.push_backward_outside)(
                _foot_lane(locale))
        elif sw in (SW_NO, SW_UNKNOWN) and sh == SH_YES:
            (road.push_forward_outside if forward else road.push_backward_outside)(
                _shoulder_lane(locale))
        elif sw == SW_YES and sh == SH_YES:
            raise _msg_error(UNSUPPORTED, "shoulder and sidewalk on same side")
        # (No/Unknown, No) and (Separate, _) → nothing

    add_side(sidewalk[0], shoulder[0], True)
    add_side(sidewalk[1], shoulder[1], False)


# --------------------------------------------------------------------------
# Separator inference (separator/mod.rs)
# --------------------------------------------------------------------------

def _direction_change(inside: LaneBuilder, outside: LaneBuilder) -> str:
    a, b = inside.direction.some(), outside.direction.some()
    if a in (None, BOTH) or b in (None, BOTH):
        return "none"
    return "same" if a == b else "opposite"


def lane_pair_to_semantic_separator(inside: LaneBuilder, outside: LaneBuilder,
                                    road: RoadBuilder, locale: Locale,
                                    warnings: Warnings) -> Optional[dict]:
    """separator/mod.rs:51-117."""
    change = _direction_change(inside, outside)
    in_t, in_d = inside.type.some(), inside.designated.some()
    out_t, out_d = outside.type.some(), outside.designated.some()

    if out_d == FOOT:
        return {"kind": "kerb"}
    if out_t == SHOULDER:
        return {"kind": "shoulder"}
    if in_d == MOTOR and out_d == MOTOR:
        return _motor_pair_separator(inside, change, road, locale)
    if in_d is not None and out_d is not None and in_d != out_d:
        if outside.cycleway_variant == "track":
            return {"kind": "verge"}
        return {"kind": "modal", "inside": in_d, "outside": out_d}
    warnings.push(SEP_UNKNOWN, "unknown lane pair")
    return None


def _motor_pair_separator(inside: LaneBuilder, change: str, road: RoadBuilder,
                          locale: Locale) -> dict:
    """separator/mod.rs:120-156."""
    motorish = sum(
        1 for lane in road.lanes_ltr(locale)
        if lane.type.some() == TRAVEL and lane.designated.some() in (MOTOR, BUS)
    )
    if motorish == 2:
        return {"kind": "centre", "more_than_2": False}
    if change == "same":
        return {"kind": "lane"}
    return {"kind": "centre", "more_than_2": True}


def semantic_separator_to_lane(inside: LaneBuilder, outside: LaneBuilder,
                               separator: dict, tags: dict, locale: Locale,
                               warnings: Warnings) -> Optional[dict]:
    """separator/mod.rs:161-361."""
    kind = separator["kind"]
    if kind == "kerb":
        return separator_lane("kerb", [marking(KERB_UP, None, MARKING_DEFAULT_WIDTH)])
    if kind == "shoulder":
        # NL motorroad special-case renders identically to the default
        return separator_lane("shoulder", [marking(SOLID, WHITE, MARKING_DEFAULT_WIDTH)])
    if kind == "centre":
        if t_is(tags, "motorroad", "yes") and locale.country == "NL":
            return separator_lane("centre", [
                marking(BROKEN, WHITE, 0.15),
                marking(SOLID, GREEN, 2.0 * MARKING_DEFAULT_SPACE),
                marking(BROKEN, WHITE, 0.15),
            ])
        if locale.country == "GB":
            return separator_lane("centre", [marking(BROKEN, WHITE, 0.1)])
        warnings.push(SEP_LOCALE_UNUSED, "centre")
        if separator["more_than_2"]:
            return separator_lane("centre", [
                marking(SOLID, WHITE, MARKING_DEFAULT_WIDTH),
                marking(NO_FILL, None, MARKING_DEFAULT_SPACE),
                marking(SOLID, WHITE, MARKING_DEFAULT_WIDTH),
            ])
        return separator_lane("centre", [
            marking(DOTTED, locale.separator_motor_color(), locale.separator_motor_width()),
        ])
    if kind == "lane":
        return separator_lane("lane", [marking(DOTTED, WHITE, MARKING_DEFAULT_WIDTH)])
    if kind == "modal":
        if locale.country == "GB":
            if separator["outside"] == BUS:
                return separator_lane("modal", [marking(SOLID, WHITE, 0.25)])
            if separator["outside"] == BICYCLE:
                return separator_lane("modal", [marking(SOLID, WHITE, 0.15)])
        warnings.push(SEP_LOCALE_UNUSED, "modal")
        return separator_lane("modal", [marking(SOLID, WHITE, MARKING_DEFAULT_WIDTH)])
    if kind == "verge":
        return separator_lane("verge", None)
    warnings.push(SEP_UNKNOWN, "buffer")
    return separator_lane("buffer", [marking(BROKEN, RED, MARKING_DEFAULT_WIDTH)])


def outer_edge_semantic_separator(lane: LaneBuilder, tags: dict,
                                  locale: Locale) -> Optional[dict]:
    """separator/mod.rs:367-384."""
    if lane.type.some() == TRAVEL and locale.country == "GB" and \
            t_is(tags, "parking:condition:both", "no_stopping"):
        return {"kind": "hard"}
    return None


def semantic_edge_separator_to_lane(separator: dict) -> Optional[dict]:
    """separator/mod.rs:389-418 — Hard edge: red / no-fill / red triple."""
    return separator_lane("hard", [
        marking(SOLID, RED, 0.1),
        marking(NO_FILL, None, 0.08),
        marking(SOLID, RED, 0.1),
    ])


def lane_to_inner_edge_separator() -> dict:
    """separator/mod.rs:424-434."""
    return separator_lane(None, [marking(SOLID, WHITE, MARKING_DEFAULT_WIDTH)])


# --------------------------------------------------------------------------
# into_ltr (road.rs:448-608)
# --------------------------------------------------------------------------

def _side_separators(lanes: list[LaneBuilder], road: RoadBuilder, tags: dict,
                     locale: Locale, warnings: Warnings) -> list[Optional[dict]]:
    out = []
    for a, b in zip(lanes, lanes[1:]):
        sem = lane_pair_to_semantic_separator(a, b, road, locale, warnings)
        out.append(
            semantic_separator_to_lane(a, b, sem, tags, locale, warnings)
            if sem is not None else None)
    return out


def into_ltr(road: RoadBuilder, tags: dict, locale: Locale,
             include_separators: bool, warnings: Warnings) -> list[dict]:
    if not include_separators:
        if locale.driving_side == "left":
            ordered = list(reversed(road.forward_lanes)) + list(road.backward_lanes)
        else:
            ordered = list(reversed(road.backward_lanes)) + list(road.forward_lanes)
        return [lane.build() for lane in ordered]

    def edge(lane: Optional[LaneBuilder]) -> Optional[dict]:
        if lane is None:
            return None
        sem = outer_edge_semantic_separator(lane, tags, locale)
        return semantic_edge_separator_to_lane(sem) if sem is not None else None

    forward_edge = edge(road.forward_outside())
    backward_edge = edge(road.backward_outside())

    fwd_in, bwd_in = road.forward_inside(), road.backward_inside()
    if fwd_in is not None and bwd_in is not None:
        sem = lane_pair_to_semantic_separator(fwd_in, bwd_in, road, locale, warnings)
        middle = (semantic_separator_to_lane(fwd_in, bwd_in, sem, tags, locale, warnings)
                  if sem is not None else None)
    elif fwd_in is not None or bwd_in is not None:
        middle = mirror_lane(lane_to_inner_edge_separator())
    else:
        raise _msg_error(INTERNAL, "no lanes")

    fwd_seps = _side_separators(road.forward_lanes, road, tags, locale, warnings)
    bwd_seps = _side_separators(road.backward_lanes, road, tags, locale, warnings)

    def interleave(lanes, seps, edge_lane):
        out: list[Optional[dict]] = []
        for lane, sep in zip(lanes, seps + [edge_lane]):
            out.append(lane.build())
            out.append(sep)
        return out

    fwd = interleave(road.forward_lanes, fwd_seps, forward_edge)
    bwd = interleave(road.backward_lanes, bwd_seps, backward_edge)

    if locale.driving_side == "left":
        combined = list(reversed(fwd)) + [middle] + bwd
    else:
        combined = list(reversed(bwd)) + [middle] + fwd
    return [lane for lane in combined if lane is not None]


# --------------------------------------------------------------------------
# Top-level driver (mod.rs:121-182)
# --------------------------------------------------------------------------

def tags_to_lanes(tags: dict[str, str], locale: Locale,
                  error_on_warnings: bool = False,
                  include_separators: bool = True) -> dict:
    """Transform one way's tags → road dict with lanes + warnings.

    Returns ``{"road": {...}, "warnings": [...]}``; raises
    :class:`RoadError` (``WayNotRoad`` when highway is absent).
    """
    warnings = Warnings()

    check_unsupported(tags, warnings)

    name = tags.get("name")
    ref = tags.get("ref")
    lit, _ = parse_enum(tags, "lit", schemes.LIT_VALUES)
    tracktype, _ = parse_enum(tags, "tracktype", schemes.TRACKTYPE_VALUES)
    smoothness, _ = parse_enum(tags, "smoothness", schemes.SMOOTHNESS_VALUES)

    oneway = oneway_from_tags(tags, warnings)
    busway = busway_from_tags(tags, oneway, locale, warnings)

    road = road_builder_from(tags, locale, oneway, busway, warnings)

    apply_non_motorized(tags, locale, road, warnings)
    apply_bus(busway, tags, locale, road, warnings)
    _apply_maxspeed_lanes(tags, locale, road, warnings)
    apply_bicycle(tags, locale, road, warnings)
    apply_parking(tags, road)
    apply_foot_and_shoulder(tags, locale, road, warnings)

    lanes = into_ltr(road, tags, locale, include_separators, warnings)

    result = {
        "road": {
            "name": name,
            "ref": ref,
            "highway": road.highway["highway"],
            "lifecycle": road.highway["lifecycle"],
            "lit": lit,
            "tracktype": tracktype,
            "smoothness": smoothness,
            "lanes": lanes,
        },
        "warnings": warnings.items,
    }
    if error_on_warnings and warnings.items:
        raise RoadError("warnings", "; ".join(w["kind"] for w in warnings.items))
    return result
