"""Hierarchical spatial cell index (H3-style API, S2-style hierarchy).

The container has no h3/s2 bindings, so the engine ships its own
deterministic cell scheme, vectorized in numpy for Arrow-batch kernels:

- The world (lon ∈ [-180,180], lat ∈ [-90,90]) is a quadtree; a cell at
  *level* L is one of 4^L tiles addressed by the Morton (Z-order)
  interleave of its x/y tile indices.
- ``cell_id`` packs ``(morton << 6) | level`` into an int64, so

  * the *parent* is a bit-shift,
  * all descendants of a cell at a coarser level form one contiguous
    morton range → **cell-prefix range joins** and
    ``repartitionByRange`` co-location work on the raw int64,
  * ``k_ring`` (grid neighbors at the same level) is index arithmetic.

This mirrors the role H3 plays in the north rule: encode way vertices →
join on covering cells → refine with exact point-in-polygon.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 28  # 2*28 morton bits + 6 level bits < 63


def _part1by1(n: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of n into the even bit positions."""
    n = n.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    n = (n | (n << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    n = (n | (n << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    n = (n | (n << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    n = (n | (n << np.uint64(2))) & np.uint64(0x3333333333333333)
    n = (n | (n << np.uint64(1))) & np.uint64(0x5555555555555555)
    return n


def _compact1by1(n: np.ndarray) -> np.ndarray:
    n = n.astype(np.uint64) & np.uint64(0x5555555555555555)
    n = (n | (n >> np.uint64(1))) & np.uint64(0x3333333333333333)
    n = (n | (n >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    n = (n | (n >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    n = (n | (n >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    n = (n | (n >> np.uint64(16))) & np.uint64(0xFFFFFFFF)
    return n


def _xy_to_morton(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return _part1by1(x) | (_part1by1(y) << np.uint64(1))


def _morton_to_xy(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return _compact1by1(m), _compact1by1(m >> np.uint64(1))


def encode(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """Vectorized point → int64 cell id at ``level``.

    The encoder of every Python-side locale lookup
    (``joins.LocaleResolver.locate``: the ``map`` containment join and the
    fused lane stage). Floor and clamp run in float before the int64 cast
    (whose result is undefined beyond the int64 range), so every finite
    coordinate gets the JVM encoder's cell (``joins.cell_sql``); ±inf
    clamps to an edge and NaN to the west/south edge. The JVM encoder gives
    those a null cell, so a caller masks them first: ``locate`` gives them
    ``joins.NO_CELL``, and ``raster.zonal_join`` and the kNN join drop them.
    """
    n = 1 << level

    def grid(v, lo, span):
        with np.errstate(over="ignore"):  # a huge finite value scales to inf
            g = np.floor((np.asarray(v, np.float64) + lo) / span * n)
        return np.fmin(np.fmax(g, 0.0), n - 1).astype(np.uint64)

    morton = _xy_to_morton(grid(lon, 180.0, 360.0), grid(lat, 90.0, 180.0))
    return ((morton << np.uint64(6)) | np.uint64(level)).astype(np.int64)


def cell_level(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell).astype(np.uint64) & np.uint64(0x3F)).astype(np.int64)


def parent(cell: np.ndarray, parent_level: int) -> np.ndarray:
    """Ancestor cell at a coarser level (pure bit arithmetic)."""
    c = np.asarray(cell).astype(np.uint64)
    level = c & np.uint64(0x3F)
    morton = c >> np.uint64(6)
    shift = (2 * (level - np.uint64(parent_level))).astype(np.uint64)
    return (((morton >> shift) << np.uint64(6)) | np.uint64(parent_level)).astype(np.int64)


def prefix_range(cell: int, child_level: int) -> tuple[int, int]:
    """[lo, hi] inclusive cell-id range of all ``child_level`` descendants.

    Because descendants share the morton prefix, this turns containment
    into a *range predicate* — usable for range joins and for
    ``repartitionByRange`` co-location on the raw id.
    """
    c = np.uint64(cell)
    level = int(c & np.uint64(0x3F))
    morton = int(c >> np.uint64(6))
    dshift = 2 * (child_level - level)
    lo = (morton << dshift) << 6 | child_level
    hi = (((morton + 1) << dshift) - 1) << 6 | child_level
    return int(lo), int(hi)


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon_min, lat_min, lon_max, lat_max) arrays for cells."""
    c = np.asarray(cell).astype(np.uint64)
    level = (c & np.uint64(0x3F)).astype(np.int64)
    morton = c >> np.uint64(6)
    x, y = _morton_to_xy(morton)
    n = (np.uint64(1) << level.astype(np.uint64)).astype(np.float64)
    lon_min = x.astype(np.float64) / n * 360.0 - 180.0
    lat_min = y.astype(np.float64) / n * 180.0 - 90.0
    return lon_min, lat_min, lon_min + 360.0 / n, lat_min + 180.0 / n


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells at the same level within Chebyshev distance k (the H3
    k-ring analogue); clipped at the world edge."""
    c = np.uint64(cell)
    level = int(c & np.uint64(0x3F))
    morton = c >> np.uint64(6)
    x, y = _morton_to_xy(np.array([morton]))
    x, y = int(x[0]), int(y[0])
    n = 1 << level
    xs = np.arange(max(0, x - k), min(n, x + k + 1), dtype=np.int64)
    ys = np.arange(max(0, y - k), min(n, y + k + 1), dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    morton = _xy_to_morton(gx.ravel().astype(np.uint64), gy.ravel().astype(np.uint64))
    return ((morton << np.uint64(6)) | np.uint64(level)).astype(np.int64)


def cover_segment(lon0: float, lat0: float, lon1: float, lat1: float,
                  level: int) -> np.ndarray:
    """All cells at ``level`` the closed segment (lon0,lat0)-(lon1,lat1)
    intersects — a *supercover* grid traversal (Amanatides–Woo with corner
    fattening: a crossing exactly through a cell corner keeps both side
    cells, so the result is a superset of the true cover, never a subset).

    This is the way-geometry indexing kernel for the kNN join: indexing
    ways only by their *vertex* cells would let a long segment pass close
    to a query while every vertex sits outside the search ring, breaking
    the ring's exactness guarantee (ADVICE r01 #1).
    """
    n = 1 << level
    # continuous grid coordinates (one cell = unit square)
    gx0 = (lon0 + 180.0) / 360.0 * n
    gy0 = (lat0 + 90.0) / 180.0 * n
    gx1 = (lon1 + 180.0) / 360.0 * n
    gy1 = (lat1 + 90.0) / 180.0 * n

    def clamp(i: int) -> int:
        return 0 if i < 0 else (n - 1 if i >= n else i)

    x = clamp(int(np.floor(gx0)))
    y = clamp(int(np.floor(gy0)))
    x_end = clamp(int(np.floor(gx1)))
    y_end = clamp(int(np.floor(gy1)))
    visited = {(x, y), (x_end, y_end)}

    dx = gx1 - gx0
    dy = gy1 - gy0
    step_x = 1 if dx > 0 else -1
    step_y = 1 if dy > 0 else -1
    # t to the first vertical / horizontal grid line, then per-cell deltas
    if dx != 0:
        t_delta_x = abs(1.0 / dx)
        nxt = (x + 1) if step_x > 0 else x
        t_max_x = (nxt - gx0) / dx
    else:
        t_delta_x = np.inf
        t_max_x = np.inf
    if dy != 0:
        t_delta_y = abs(1.0 / dy)
        nxt = (y + 1) if step_y > 0 else y
        t_max_y = (nxt - gy0) / dy
    else:
        t_delta_y = np.inf
        t_max_y = np.inf

    guard = 4 * (abs(x_end - x) + abs(y_end - y) + 2)
    while (x, y) != (x_end, y_end) and guard > 0:
        guard -= 1
        if abs(t_max_x - t_max_y) < 1e-12:  # corner crossing: fatten
            visited.add((clamp(x + step_x), clamp(y)))
            visited.add((clamp(x), clamp(y + step_y)))
            x = clamp(x + step_x)
            y = clamp(y + step_y)
            t_max_x += t_delta_x
            t_max_y += t_delta_y
        elif t_max_x < t_max_y:
            if t_max_x > 1.0:
                break
            x = clamp(x + step_x)
            t_max_x += t_delta_x
        else:
            if t_max_y > 1.0:
                break
            y = clamp(y + step_y)
            t_max_y += t_delta_y
        visited.add((x, y))

    xs = np.fromiter((v[0] for v in visited), np.uint64, len(visited))
    ys = np.fromiter((v[1] for v in visited), np.uint64, len(visited))
    morton = _xy_to_morton(xs, ys)
    return np.unique(((morton << np.uint64(6)) | np.uint64(level)).astype(np.int64))


def cover_polyline(points: np.ndarray, level: int) -> np.ndarray:
    """Union of :func:`cover_segment` over consecutive vertices.

    ``points``: (V, 2) array of [lon, lat]. V=1 degenerates to the point's
    cell. Returns sorted unique int64 cell ids.
    """
    pts = np.asarray(points, np.float64)
    if len(pts) == 1:
        return encode(pts[:, 0], pts[:, 1], level)
    parts = [cover_segment(pts[i, 0], pts[i, 1], pts[i + 1, 0], pts[i + 1, 1],
                           level) for i in range(len(pts) - 1)]
    return np.unique(np.concatenate(parts))


def cover_bbox(lon_min: float, lat_min: float, lon_max: float, lat_max: float,
               level: int) -> np.ndarray:
    """All cells at ``level`` intersecting a bbox (polygon covering step 1)."""
    n = 1 << level
    x0 = int(np.clip((lon_min + 180.0) / 360.0 * n, 0, n - 1))
    x1 = int(np.clip((lon_max + 180.0) / 360.0 * n, 0, n - 1))
    y0 = int(np.clip((lat_min + 90.0) / 180.0 * n, 0, n - 1))
    y1 = int(np.clip((lat_max + 90.0) / 180.0 * n, 0, n - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.uint64)
    ys = np.arange(y0, y1 + 1, dtype=np.uint64)
    gx, gy = np.meshgrid(xs, ys)
    morton = _xy_to_morton(gx.ravel(), gy.ravel())
    return ((morton << np.uint64(6)) | np.uint64(level)).astype(np.int64)
