"""S2 cell ids (the real scheme), vectorized in numpy — a point encoder
(the ``s2_binning`` query in ``__spark_entry__.py``), not a containment
backend: polygon containment runs on the morton covering in
``spatial/joins.py``.

Implements the public S2 cell-id scheme faithfully (s2geometry.io; the
reference C++ S2CellId::FromFaceIJ and its published ports):

- lon/lat → unit (x, y, z) → cube face (0..5) + (u, v) face coordinates,
- quadratic ST projection ``s = 1/2·sqrt(1+3u)`` (the area-uniformizing
  transform S2 uses by default),
- (face, i, j) at 30 leaf levels → 64-bit cell id along the face-local
  Hilbert curve, built 4 bits at a time from the canonical lookup tables
  (kPosToIJ / kPosToOrientation), trailing-bit level encoding.

Because the bit layout is the real one, the usual id arithmetic holds and
is what the engine exploits at scale:

- ``parent(id, level)`` is two bit ops,
- all descendants of a cell form ONE contiguous id range
  (``range_min``/``range_max``) → cell-prefix range joins and
  ``repartitionByRange`` co-location on the raw int64,
- ids sort along a Hilbert curve → consecutive ranges are spatially
  local (better tail locality than the morton grid in
  ``spatial/cells.py``, which stays the engine's cell system because it
  also ships polygon covering + k-ring; this module covers point encode /
  hierarchy / range co-location).

Verification: structure + hierarchy + locality properties and published
conformance vectors are pinned in tests/test_s2.py; when the real
``s2sphere`` bindings are importable the same test also cross-checks
random ids bit-for-bit.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP_MASK = 1
_INVERT_MASK = 2

# canonical Hilbert sub-cell orders (s2coords kPosToIJ / kPosToOrientation)
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENTATION = (_SWAP_MASK, 0, 0, _INVERT_MASK + _SWAP_MASK)


def _build_lookups():
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), np.uint32)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), np.uint32)

    def init(level, i, j, orig_orientation, pos, orientation):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orientation]
        for subpos in range(4):
            ij = r[subpos]
            init(level, i + (ij >> 1), j + (ij & 1), orig_orientation,
                 pos + subpos, orientation ^ _POS_TO_ORIENTATION[subpos])

    for orientation in range(4):
        init(0, 0, 0, orientation, 0, orientation)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookups()


def lonlat_to_xyz(lon: np.ndarray, lat: np.ndarray):
    phi = np.radians(np.asarray(lat, np.float64))
    theta = np.radians(np.asarray(lon, np.float64))
    cosphi = np.cos(phi)
    return cosphi * np.cos(theta), cosphi * np.sin(theta), np.sin(phi)


def xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Largest-absolute-component face + canonical (u, v)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= np.maximum(ay, az), 0,
                    np.where(ay >= az, 1, 2)).astype(np.int64)
    major = np.choose(face, (x, y, z))
    face = np.where(major < 0, face + 3, face)
    # u, v per face (s2coords ValidFaceXYZtoUV)
    u = np.empty_like(x)
    v = np.empty_like(x)
    # full-array division per face: rows belonging to other faces can have
    # a zero denominator there — they are masked out, so silence the
    # spurious warning rather than branch per row
    with np.errstate(divide="ignore", invalid="ignore"):
        for f, (ue, ve, de) in enumerate((
                (lambda: y, lambda: z, lambda: x),
                (lambda: -x, lambda: z, lambda: y),
                (lambda: -x, lambda: -y, lambda: z),
                (lambda: z, lambda: y, lambda: x),
                (lambda: z, lambda: -x, lambda: y),
                (lambda: -y, lambda: -x, lambda: z))):
            m = face == f
            if m.any():
                u[m] = (ue() / de())[m]
                v[m] = (ve() / de())[m]
    return face, u, v


def uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2's default quadratic projection (area-uniformizing).

    Both np.where branches evaluate on every element; the inner
    ``maximum(0, ·)`` clamps the branch that is not selected (|u| can
    exceed 1/3 only on that side), so no invalid-sqrt warnings and no
    value changes."""
    return np.where(u >= 0.0,
                    0.5 * np.sqrt(np.maximum(0.0, 1.0 + 3.0 * u)),
                    1.0 - 0.5 * np.sqrt(np.maximum(0.0, 1.0 - 3.0 * u)))


def st_to_ij(s: np.ndarray) -> np.ndarray:
    lim = 1 << MAX_LEVEL
    return np.clip((s * lim).astype(np.int64), 0, lim - 1)


def from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """(face, leaf i, leaf j) → leaf cell id (uint64 bit pattern in int64)."""
    face = np.asarray(face, np.uint64)
    i = np.asarray(i, np.uint64)
    j = np.asarray(j, np.uint64)
    n = face << np.uint64(2 * MAX_LEVEL)  # becomes bits 60..62 after *2+1
    bits = (face & np.uint64(_SWAP_MASK)).astype(np.uint64)
    mask = np.uint64((1 << _LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        shift = np.uint64(k * _LOOKUP_BITS)
        bits += ((i >> shift) & mask) << np.uint64(_LOOKUP_BITS + 2)
        bits += ((j >> shift) & mask) << np.uint64(2)
        bits = _LOOKUP_POS[bits.astype(np.int64)].astype(np.uint64)
        n |= (bits >> np.uint64(2)) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= np.uint64(_SWAP_MASK | _INVERT_MASK)
    return ((n << np.uint64(1)) | np.uint64(1)).view(np.int64)


def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def encode(lon: np.ndarray, lat: np.ndarray, level: int = MAX_LEVEL) -> np.ndarray:
    """Vectorized point → S2 cell id at ``level`` (int64, real S2 layout)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    x, y, z = lonlat_to_xyz(lon, lat)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    leaf = from_face_ij(face, i, j)
    return parent(leaf, level)


def level_of(ids: np.ndarray) -> np.ndarray:
    """Level from the trailing set bit."""
    u = np.asarray(ids).view(np.uint64)
    lsb = u & (~u + np.uint64(1))
    return (MAX_LEVEL
            - np.round(np.log2(lsb.astype(np.float64)) / 2)).astype(np.int64)


def parent(ids: np.ndarray, level: int) -> np.ndarray:
    """Ancestor at ``level`` (caller guarantees level ≤ id level)."""
    u = np.asarray(ids).view(np.uint64)
    new_lsb = np.uint64(lsb_for_level(level))
    return ((u & (~new_lsb + np.uint64(1))) | new_lsb).view(np.int64)


def range_min(ids: np.ndarray) -> np.ndarray:
    """Smallest leaf id contained in each cell (contiguous-range joins)."""
    u = np.asarray(ids).view(np.uint64)
    lsb = u & (~u + np.uint64(1))
    return (u - (lsb - np.uint64(1))).view(np.int64)


def range_max(ids: np.ndarray) -> np.ndarray:
    u = np.asarray(ids).view(np.uint64)
    lsb = u & (~u + np.uint64(1))
    return (u + (lsb - np.uint64(1))).view(np.int64)


# ---------------------------------------------------------------------------
# Inverse transform (id arithmetic + the inverse Hilbert tables)
# ---------------------------------------------------------------------------

def to_face_ij(cell_id: int) -> tuple:
    """Scalar inverse of :func:`from_face_ij`: id → (face, i, j, level) of
    the cell's MINIMUM leaf (range_min corner)."""
    u = int(cell_id) & ((1 << 64) - 1)  # two's-complement view of int64 ids
    face = u >> 61
    lsb = u & (~u + 1) & ((1 << 64) - 1)
    level = MAX_LEVEL - (lsb.bit_length() - 1) // 2
    # minimum-leaf position bits: strip the trailing lsb AND the 3 face
    # bits (bits 60..62) — leaving them in corrupts the top Hilbert chunk
    # (consistently enough to survive a from_face_ij round-trip, but the
    # decoded i/j exceed 2^30 and corner math breaks)
    pos = ((u - lsb) >> 1) & ((1 << 60) - 1)
    i = j = 0
    bits = face & _SWAP_MASK
    for k in range(7, -1, -1):
        nbits = (pos >> (k * 2 * _LOOKUP_BITS)) & ((1 << (2 * _LOOKUP_BITS)) - 1)
        bits += nbits << 2
        bits = int(_LOOKUP_IJ[bits])
        i += (bits >> (_LOOKUP_BITS + 2)) << (k * _LOOKUP_BITS)
        j += ((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * _LOOKUP_BITS)
        bits &= _SWAP_MASK | _INVERT_MASK
    return face, i, j, level


def _st_to_uv(s: float) -> float:
    """Inverse of the quadratic projection."""
    if s >= 0.5:
        return (1.0 / 3.0) * (4.0 * s * s - 1.0)
    return (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))


def _face_uv_to_lonlat(face: int, u: float, v: float) -> tuple:
    """Exact algebraic inverse of :func:`xyz_to_face_uv`'s per-face table
    (derived by solving each face's u/v ratios, round-trip-tested)."""
    x, y, z = (
        (1.0, u, v), (-u, 1.0, v), (-u, -v, 1.0),
        (-1.0, -v, -u), (v, -1.0, -u), (v, u, -1.0),
    )[face]
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return float(lon), float(lat)


def cell_lonlat_corners(cell_id: int) -> list:
    """The 4 (lon, lat) corners of a cell (gnomonic edges — for bbox /
    intersection tests use with a margin at coarse levels)."""
    face, i, j, level = to_face_ij(cell_id)
    size = 1 << (MAX_LEVEL - level)
    # align to the cell's ij block: the min-ID leaf is not the min-ij
    # corner (Hilbert orientation varies), but every leaf of the cell
    # shares the same aligned block
    i &= ~(size - 1)
    j &= ~(size - 1)
    lim = float(1 << MAX_LEVEL)
    return [_face_uv_to_lonlat(face, _st_to_uv((i + di * size) / lim),
                               _st_to_uv((j + dj * size) / lim))
            for di, dj in ((0, 0), (1, 0), (1, 1), (0, 1))]


def s2_encode_udf(level: int):
    """Arrow-batched Spark kernel: (lon, lat) columns → S2 cell id column.

    The north rule's shape verbatim — "encoded into H3 cells (with S2
    fallback) in batched Arrow kernels": the numpy kernel above runs over
    Arrow batches; no per-row Python."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _udf(lon, lat):  # no hints: `pd` isn't resolvable for postponed
        return pd.Series(encode(lon.to_numpy(), lat.to_numpy(), level))

    return _udf
