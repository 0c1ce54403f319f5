"""Geohash encoding as pure-Catalyst SQL arithmetic + a DuckDB replay twin.

Geohash (public domain, Niemeyer 2008) interleaves quantized lon/lat bits
MSB-first starting with longitude and base32-encodes 5 bits per character
with the alphabet ``0123456789bcdefghjkmnpqrstuvwxyz``. The interleave is
exactly a Morton interleave over the grid cell encoder's quantization
(`joins.grid_sql`), written as Spark SQL text, so the hot path stays
inside whole-stage codegen: at 10^12 rows the encode must never leave the
JVM.

Engine parity: :func:`geohash_oracle_cte` emits a DuckDB CTE chain that
reaches the same integers by another route (the mask-cascade Morton
spread, decimal mask literals), so the oracle hash-verifies the encoder
itself — the same strategy the S2 oracle uses for its Hilbert tables
(`spatial/s2.py`).

Reference scope note: the reference has no tiling of its own (it delegates
spatial lookup to Overpass — overpass.rs:147-242); geohash joins the grid
and S2 backends as the third cell index per SURVEY §2.4 J3.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

from .joins import grid_sql

ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"

# (shift, mask) chain of the Morton bit spread — decimal literals so the
# SQL twin can embed them verbatim (hex support varies across engines)
_SPREAD_STEPS = [(16, 281470681808895), (8, 71777214294589695),
                 (4, 1085102592571150095), (2, 3689348814741910323),
                 (1, 6148914691236517205)]


def _indices(precision: int) -> tuple[int, int]:
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12]: {precision!r}")
    nbits = 5 * precision
    return (nbits + 1) // 2, nbits // 2  # lon gets the extra odd bit


@functools.lru_cache(maxsize=256)
def geohash_sql(lon: str, lat: str, precision: int = 5) -> str:
    """Spark SQL text of the geohash of SQL doubles (lon, lat).

    Quantize each axis to its bit budget, then read the Morton interleave
    of the two planes 5 bits per character, MSB-first, straight from the
    planes: which plane lands on even bit positions depends on whether the
    total bit count is odd — longitude leads MSB-first either way.
    """
    nlon, nlat = _indices(precision)
    lon_i = grid_sql(lon, 180.0, 360.0, nlon)
    lat_i = grid_sql(lat, 90.0, 180.0, nlat)
    # plane of the even interleave positions, then of the odd ones
    planes = (lon_i, lat_i) if (nlon + nlat) % 2 else (lat_i, lon_i)
    chars = []
    for k in range(precision):
        low = 5 * (precision - 1 - k)  # interleave position of the char's LSB
        index = " | ".join(
            f"shiftleft(shiftright({planes[p % 2]}, {p // 2}) & 1L, {p - low})"
            for p in range(low, low + 5))
        chars.append(f"substr('{ALPHABET}', CAST({index} AS INT) + 1, 1)")
    return f"concat({', '.join(chars)})"


def geohash_expr(lon: str, lat: str, precision: int = 5) -> Column:
    """Geohash string of (lon, lat) at ``precision`` chars — JVM-side.
    ``lon``/``lat`` are SQL expressions (see :func:`geohash_sql`)."""
    return F.expr(geohash_sql(lon, lat, precision))


def geohash_oracle_cte(source: str, lon_sql: str, lat_sql: str,
                       precision: int, keep: str) -> str:
    """DuckDB CTE chain giving :func:`geohash_expr`'s strings bit-for-bit.

    ``source`` is a FROM-able relation, ``keep`` a comma list of columns
    to carry through. Exposes those columns plus ``geohash``. Each spread
    step is its own CTE column so the expression tree stays linear (a
    single nested expression doubles per step — 32 copies of the base by
    the end)."""
    nlon, nlat = _indices(precision)
    nbits = nlon + nlat
    stages = [f"""g0 AS (
        SELECT {keep},
               least(greatest(CAST(floor((({lon_sql}) + 180.0) / 360.0
                                   * {1 << nlon}) AS BIGINT), 0),
                     {(1 << nlon) - 1}) AS xi,
               least(greatest(CAST(floor((({lat_sql}) + 90.0) / 180.0
                                   * {1 << nlat}) AS BIGINT), 0),
                     {(1 << nlat) - 1}) AS yi
        FROM {source})"""]
    xcur, ycur = "xi", "yi"
    for i, (shift, mask) in enumerate([(None, 4294967295)] + _SPREAD_STEPS):
        if shift is None:
            xe, ye = f"({xcur} & {mask})", f"({ycur} & {mask})"
        else:
            xe = f"(({xcur} | ({xcur} << {shift})) & {mask})"
            ye = f"(({ycur} | ({ycur} << {shift})) & {mask})"
        stages.append(f"""g{i + 1} AS (
        SELECT {keep}, {xe} AS x{i}, {ye} AS y{i} FROM g{i})""")
        xcur, ycur = f"x{i}", f"y{i}"
    comb = (f"({xcur} | ({ycur} << 1))" if nbits % 2
            else f"({ycur} | ({xcur} << 1))")
    chars = " || ".join(
        f"substr('{ALPHABET}', CAST((({comb} >> {5 * (precision - 1 - k)})"
        f" & 31) AS INTEGER) + 1, 1)"
        for k in range(precision))
    stages.append(f"""gh AS (
        SELECT {keep}, {chars} AS geohash FROM g{len(_SPREAD_STEPS) + 1})""")
    return ",\n".join(stages)
