"""Quadtree cell grid — the engine's H3/S2-style hierarchical spatial index.

No h3/s2 library ships in this environment, so the engine defines its own
deterministic hierarchy: at resolution ``r`` the lon/lat plane [-180,180] x
[-90,90] is a 2^r x 2^r grid.  A cell id packs ``(r, ix, iy)`` into one int64:

    cell = (r << 52) | (ix << 26) | iy          (ix, iy < 2^26, r <= 25)

Properties used by the operators:
  * ``cell_of_point`` is pure floor arithmetic -> reproducible in ANSI SQL
    (the DuckDB correctness oracles recompute it independently).
  * parent/children/compact give H3-style compacted covers: an image
    footprint is stored as the minimal set of mixed-resolution cells; a point
    probe joins by generating its ancestor chain (one cell per resolution).
  * ``k_ring`` gives Chebyshev-ring neighbourhoods for kNN expansion —
    the distributed generalization of the reference's ring search around a
    point (rasteret `src/rasteret/core/raster_accessor.py:759-883`).

All functions are numpy-vectorized; they run inside pandas UDFs or driver-side
planning, never per-row Python in the DataFrame plan.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 25
_RES_SHIFT = 52
_IX_SHIFT = 26
_MASK26 = (1 << 26) - 1


def cell_id(res, ix, iy):
    """Pack (res, ix, iy) -> int64 cell id. Vectorized."""
    return (
        (np.asarray(res, dtype=np.int64) << _RES_SHIFT)
        | (np.asarray(ix, dtype=np.int64) << _IX_SHIFT)
        | np.asarray(iy, dtype=np.int64)
    )


def cell_res(cell):
    return np.asarray(cell, dtype=np.int64) >> _RES_SHIFT


def cell_ix(cell):
    return (np.asarray(cell, dtype=np.int64) >> _IX_SHIFT) & _MASK26


def cell_iy(cell):
    return np.asarray(cell, dtype=np.int64) & _MASK26


def cell_of_point(lon, lat, res: int):
    """Point -> cell at resolution ``res`` (floor arithmetic, clamped)."""
    n = np.int64(1) << res
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    ix = np.clip(ix, 0, n - 1)
    iy = np.clip(iy, 0, n - 1)
    return cell_id(res, ix, iy)


def cell_bounds(cell):
    """Cell -> (xmin, ymin, xmax, ymax) in degrees. Vectorized."""
    r = cell_res(cell)
    n = (np.int64(1) << r).astype(np.float64)
    dx, dy = 360.0 / n, 180.0 / n
    x0 = -180.0 + cell_ix(cell) * dx
    y0 = -90.0 + cell_iy(cell) * dy
    return x0, y0, x0 + dx, y0 + dy


def parent(cell, steps: int = 1):
    r = cell_res(cell)
    return cell_id(r - steps, cell_ix(cell) >> steps, cell_iy(cell) >> steps)


def ancestors(cell, min_res: int = 0):
    """All ancestor cells (incl. self) down to min_res — the probe-side join key
    set against a compacted cover."""
    cell = np.asarray(cell, dtype=np.int64)
    r = int(cell_res(cell).max()) if cell.size else 0
    out = [cell]
    for s in range(1, r - min_res + 1):
        out.append(parent(cell, s))
    return out


def children(cell):
    r = int(cell_res(np.int64(cell)))
    ix, iy = int(cell_ix(np.int64(cell))), int(cell_iy(np.int64(cell)))
    out = []
    for dx in (0, 1):
        for dy in (0, 1):
            out.append(int(cell_id(r + 1, ix * 2 + dx, iy * 2 + dy)))
    return out


def k_ring(cell, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of ``cell`` (same resolution).

    Longitude wraps across the antimeridian; latitude rows are clamped.
    """
    c = np.int64(cell)
    r = int(cell_res(c))
    n = 1 << r
    ix, iy = int(cell_ix(c)), int(cell_iy(c))
    dxs, dys = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    xs = (ix + dxs.ravel()) % n
    ys = iy + dys.ravel()
    keep = (ys >= 0) & (ys < n)
    return np.unique(cell_id(r, xs[keep], ys[keep]))


def ring_distance(cell_a, cell_b) -> np.ndarray:
    """Chebyshev grid distance between same-resolution cells (lon-wrapped)."""
    a = np.asarray(cell_a, dtype=np.int64)
    b = np.asarray(cell_b, dtype=np.int64)
    r = cell_res(a)
    n = np.int64(1) << r
    dx = np.abs(cell_ix(a) - cell_ix(b))
    dx = np.minimum(dx, n - dx)
    dy = np.abs(cell_iy(a) - cell_iy(b))
    return np.maximum(dx, dy)


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> np.ndarray:
    """All cells at ``res`` intersecting the bbox (inclusive of edges).

    No epsilon shrink on the max edge: containment predicates downstream are
    closed (x <= xmax), so a max edge exactly on a cell boundary must include
    the boundary cell (matches ``spatial_join._axis_cell`` semantics)."""
    n = np.int64(1) << res
    ix0 = int(np.clip(np.floor((xmin + 180.0) / 360.0 * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((xmax + 180.0) / 360.0 * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((ymin + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((ymax + 90.0) / 180.0 * n), 0, n - 1))
    ix1 = max(ix1, ix0)
    iy1 = max(iy1, iy0)
    ixs, iys = np.meshgrid(np.arange(ix0, ix1 + 1), np.arange(iy0, iy1 + 1))
    return cell_id(res, ixs.ravel(), iys.ravel())


def compact(cells: np.ndarray) -> np.ndarray:
    """H3-style compaction: replace any complete set of 4 siblings with the
    parent, recursively.  Input cells may be mixed-resolution; output is the
    minimal equivalent cover."""
    cells = np.unique(np.asarray(cells, dtype=np.int64))
    result: list[np.ndarray] = []
    cur = cells
    while cur.size:
        r = cell_res(cur)
        max_r = int(r.max())
        at_max = cur[r == max_r]
        rest = cur[r != max_r]
        if max_r == 0:
            result.append(at_max)
            cur = rest
            continue
        p = parent(at_max)
        uniq_p, counts = np.unique(p, return_counts=True)
        full = uniq_p[counts == 4]
        if full.size == 0:
            result.append(at_max)
            cur = rest
            continue
        promoted = full
        keep = at_max[~np.isin(p, full)]
        result.append(keep)
        cur = np.unique(np.concatenate([rest, promoted]))
    return np.unique(np.concatenate(result)) if result else cells


def uncompact(cells: np.ndarray, res: int) -> np.ndarray:
    """Expand a compacted cover to uniform resolution ``res``."""
    cells = np.asarray(cells, dtype=np.int64)
    out = []
    for c in cells:
        r = int(cell_res(c))
        if r == res:
            out.append(np.array([c], dtype=np.int64))
        elif r > res:
            out.append(np.array([int(parent(c, r - res))], dtype=np.int64))
        else:
            steps = res - r
            ix, iy = int(cell_ix(c)) << steps, int(cell_iy(c)) << steps
            k = 1 << steps
            xs, ys = np.meshgrid(np.arange(k), np.arange(k))
            out.append(cell_id(res, ix + xs.ravel(), iy + ys.ravel()))
    return np.unique(np.concatenate(out)) if out else cells
