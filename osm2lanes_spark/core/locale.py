"""Locale: country + driving side context for a way.

Mirrors `/root/reference/osm2lanes/src/locale.rs:10-118`. The reference
resolves countries through the ``celes`` crate and regions through
``locale-codes``; here the same facts live in a small dimension table
(:data:`COUNTRIES`) that is also exported as a broadcast DataFrame for the
spatial join (see :mod:`osm2lanes_spark.spatial.joins`).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

# alpha2 -> (alpha3, UN M49 region name, customary driving side)
# Public ISO-3166 / UN M49 facts; superset of the codes exercised by the
# reference's test corpus (tests.yml: AU CA CH DE GB IT JP NL US).
COUNTRIES: dict[str, tuple[str, str, str]] = {
    "AR": ("ARG", "Americas", "right"),
    "AT": ("AUT", "Europe", "right"),
    "AU": ("AUS", "Oceania", "left"),
    "BE": ("BEL", "Europe", "right"),
    "BR": ("BRA", "Americas", "right"),
    "CA": ("CAN", "Americas", "right"),
    "CH": ("CHE", "Europe", "right"),
    "CL": ("CHL", "Americas", "right"),
    "CN": ("CHN", "Asia", "right"),
    "CZ": ("CZE", "Europe", "right"),
    "DE": ("DEU", "Europe", "right"),
    "DK": ("DNK", "Europe", "right"),
    "ES": ("ESP", "Europe", "right"),
    "FI": ("FIN", "Europe", "right"),
    "FR": ("FRA", "Europe", "right"),
    "GB": ("GBR", "Europe", "left"),
    "GR": ("GRC", "Europe", "right"),
    "HK": ("HKG", "Asia", "left"),
    "HU": ("HUN", "Europe", "right"),
    "ID": ("IDN", "Asia", "left"),
    "IE": ("IRL", "Europe", "left"),
    "IN": ("IND", "Asia", "left"),
    "IT": ("ITA", "Europe", "right"),
    "JP": ("JPN", "Asia", "left"),
    "KE": ("KEN", "Africa", "left"),
    "KR": ("KOR", "Asia", "right"),
    "MX": ("MEX", "Americas", "right"),
    "MY": ("MYS", "Asia", "left"),
    "NG": ("NGA", "Africa", "right"),
    "NL": ("NLD", "Europe", "right"),
    "NO": ("NOR", "Europe", "right"),
    "NZ": ("NZL", "Oceania", "left"),
    "PL": ("POL", "Europe", "right"),
    "PT": ("PRT", "Europe", "right"),
    "RU": ("RUS", "Europe", "right"),
    "SE": ("SWE", "Europe", "right"),
    "SG": ("SGP", "Asia", "left"),
    "TH": ("THA", "Asia", "left"),
    "TR": ("TUR", "Asia", "right"),
    "US": ("USA", "Americas", "right"),
    "ZA": ("ZAF", "Africa", "left"),
}

_ALPHA3_TO_ALPHA2 = {a3: a2 for a2, (a3, _, _) in COUNTRIES.items()}

# the countries a kernel compares ``locale.country`` with by name; any other
# country reaches the kernels only through its region and driving side
RULE_COUNTRIES = frozenset({"GB", "NL"})

RIGHT = "right"
LEFT = "left"


def opposite_side(side: str) -> str:
    return LEFT if side == RIGHT else RIGHT


@dataclass
class Locale:
    """locale.rs:10-16; country held as alpha2 (None when unresolvable)."""

    country: Optional[str] = None
    subdivision: Optional[str] = None
    driving_side: str = RIGHT

    # -- builder (locale.rs:155-211) -----------------------------------
    @classmethod
    def build(cls, iso_3166: Optional[str] = None, driving_side: Optional[str] = None) -> "Locale":
        country = None
        subdivision = None
        if iso_3166:
            if len(iso_3166) == 2:
                country = iso_3166 if iso_3166 in COUNTRIES else None
            elif len(iso_3166) == 3:
                country = _ALPHA3_TO_ALPHA2.get(iso_3166)
            elif "-" in iso_3166:
                alpha2, _, subdivision = iso_3166.partition("-")
                country = alpha2 if alpha2 in COUNTRIES else None
        return cls(country=country, subdivision=subdivision, driving_side=driving_side or RIGHT)

    def rule_key(self) -> tuple:
        """The locale facts the lane kernels read: the country if it is
        one of :data:`RULE_COUNTRIES`, whether it is in the Americas, and
        the driving side. Locales with equal keys give equal kernel output,
        so a key is the locale's rule class."""
        return (self.country if self.country in RULE_COUNTRIES else None,
                self.region() == "Americas", self.driving_side)

    # -- country-dependent constants -----------------------------------
    def travel_width(self, designated: str) -> float:
        """locale.rs:26-41 (metres)."""
        if designated in ("motor_vehicle", "bus"):
            if self.country == "GB":
                return 3.0
            if self.country == "NL":
                return 3.35
            return 3.5
        if designated == "foot":
            return 2.5
        if designated == "bicycle":
            return 2.0
        return 3.5

    def region(self) -> Optional[str]:
        entry = COUNTRIES.get(self.country) if self.country else None
        return entry[1] if entry else None

    def separator_motor_color(self) -> str:
        """locale.rs:46-59 — yellow centre line in the Americas."""
        return "yellow" if self.region() == "Americas" else "white"

    def separator_motor_width(self) -> float:
        """locale.rs:64-74."""
        return 0.1 if self.country == "GB" else 0.2

    def has_split_lanes(self, highway_type: str) -> bool:
        """locale.rs:81-98."""
        return highway_type in _SPLIT_LANES_TYPES

    def has_shoulder(self, highway_type: str) -> bool:
        """locale.rs:103-118."""
        return highway_type in _SHOULDER_TYPES


_SPLIT_LANES_TYPES = frozenset(
    [
        "motorway", "trunk", "primary", "secondary", "tertiary",
        "motorway_link", "trunk_link", "primary_link", "secondary_link", "tertiary_link",
        "residential",
    ]
)

_SHOULDER_TYPES = frozenset(
    [
        "motorway", "trunk", "primary", "secondary",
        "motorway_link", "trunk_link", "primary_link", "secondary_link",
    ]
)
