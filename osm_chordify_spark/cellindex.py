"""Hierarchical quadkey cell index (H3/S2-style), pure NumPy.

From-scratch tiling engine: maps planar (or lon/lat) coordinates to
hierarchical square cells at resolutions 0..MAX_RES.  The role of this
index mirrors the reference's GeoPandas R-tree spatial index
(reference: src/osm_chordify/osm/intersect.py:471,735 — `sindex`
candidate queries): it turns every spatial predicate into *cell-id
equi-join* candidates that Catalyst can plan as ordinary hash joins.

Encoding (int64):  cell = (res << 58) | (ix << 29) | iy
  res ∈ [0, 20]      (5 usable bits; res 20 over the lon/lat world is
                      ~38 m × 19 m at the equator — finer than H3 res 10)
  ix, iy ∈ [0, 2^res) row/column at that resolution (29 bits each)

All functions are vectorized over NumPy int64/float64 arrays and safe to
call inside Arrow-batched pandas UDFs (no Python-level per-row work).
"""

from __future__ import annotations

import numpy as np

MAX_RES = 20

# world bounds: default is the lon/lat plane; any projected plane works
# as long as the same bounds are used consistently across a pipeline.
WORLD = (-180.0, -90.0, 180.0, 90.0)

_RES_SHIFT = np.int64(58)
_IX_SHIFT = np.int64(29)
_IX_MASK = np.int64((1 << 29) - 1)


def _as_np(a, dtype):
    return np.asarray(a, dtype=dtype)


def cell_at(x, y, res: int, world=WORLD):
    """Vectorized point → cell id at resolution ``res``.

    Points outside the world bounds are clamped to the edge cells, so
    every finite point gets a cell (callers filter invalid coordinates
    separately — cf. reference osm/diagnostics.py:144-175).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    x = _as_np(x, np.float64)
    y = _as_np(y, np.float64)
    x0, y0, x1, y1 = world
    n = np.int64(1) << np.int64(res)
    fx = (x - x0) / (x1 - x0)
    fy = (y - y0) / (y1 - y0)
    ix = np.clip((fx * int(n)).astype(np.int64), 0, int(n) - 1)
    iy = np.clip((fy * int(n)).astype(np.int64), 0, int(n) - 1)
    return (np.int64(res) << _RES_SHIFT) | (ix << _IX_SHIFT) | iy


def cell_res(cell):
    return (_as_np(cell, np.int64) >> _RES_SHIFT).astype(np.int64)


def cell_ij(cell):
    c = _as_np(cell, np.int64)
    return (c >> _IX_SHIFT) & _IX_MASK, c & _IX_MASK


def make_cell(res, ix, iy):
    return (
        (np.int64(res) << _RES_SHIFT)
        | (_as_np(ix, np.int64) << _IX_SHIFT)
        | _as_np(iy, np.int64)
    )


def cell_bounds(cell, world=WORLD):
    """Vectorized cell → (x0, y0, x1, y1) arrays."""
    c = _as_np(cell, np.int64)
    res = c >> _RES_SHIFT
    ix, iy = cell_ij(c)
    wx0, wy0, wx1, wy1 = world
    n = (np.int64(1) << res).astype(np.float64)
    w = (wx1 - wx0) / n
    h = (wy1 - wy0) / n
    x0 = wx0 + ix * w
    y0 = wy0 + iy * h
    return x0, y0, x0 + w, y0 + h


def parent(cell, steps: int = 1):
    """Vectorized parent at ``res - steps``."""
    c = _as_np(cell, np.int64)
    res = c >> _RES_SHIFT
    new_res = res - np.int64(steps)
    if np.any(new_res < 0):
        raise ValueError("parent below res 0")
    ix, iy = cell_ij(c)
    return make_cell(new_res, ix >> np.int64(steps), iy >> np.int64(steps))


def children(cell):
    """Single cell → its 4 children (res + 1)."""
    c = np.int64(cell)
    res = int(c >> _RES_SHIFT)
    if res >= MAX_RES:
        raise ValueError("children above MAX_RES")
    ix, iy = cell_ij(c)
    ix, iy = int(ix) << 1, int(iy) << 1
    return make_cell(
        res + 1,
        np.array([ix, ix + 1, ix, ix + 1], dtype=np.int64),
        np.array([iy, iy, iy + 1, iy + 1], dtype=np.int64),
    )


def kring(cell, k: int = 1):
    """Single cell → all cells within Chebyshev distance k (incl. self),
    clipped at the world edge.  The cell-neighbor-ring primitive for kNN
    search (replaces the reference's R-tree radius query,
    osm/graph.py:432-458)."""
    c = np.int64(cell)
    res = int(c >> _RES_SHIFT)
    n = 1 << res
    ix, iy = cell_ij(c)
    ix, iy = int(ix), int(iy)
    xs = np.arange(max(0, ix - k), min(n, ix + k + 1), dtype=np.int64)
    ys = np.arange(max(0, iy - k), min(n, iy + k + 1), dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return make_cell(res, gx.ravel(), gy.ravel())


def ring_only(cell, k: int):
    """Cells at exactly Chebyshev distance k (the ring boundary)."""
    if k == 0:
        return np.array([np.int64(cell)], dtype=np.int64)
    inner = set(kring(cell, k - 1).tolist())
    return np.array(
        [c for c in kring(cell, k).tolist() if c not in inner], dtype=np.int64
    )


def cover_bbox(x0, y0, x1, y1, res: int, world=WORLD, max_cells: int = 4096):
    """Cells at ``res`` whose rectangles intersect bbox [x0,x1]×[y0,y1].

    Candidate generation for geometry → cells (the explode side of the
    cell equi-join).  Raises if the cover would exceed ``max_cells`` —
    callers should drop to a coarser resolution instead (the hot-cell /
    over-cover guard)."""
    wx0, wy0, wx1, wy1 = world
    n = 1 << res
    fx0 = int(np.clip(np.floor((x0 - wx0) / (wx1 - wx0) * n), 0, n - 1))
    fx1 = int(np.clip(np.floor((x1 - wx0) / (wx1 - wx0) * n), 0, n - 1))
    fy0 = int(np.clip(np.floor((y0 - wy0) / (wy1 - wy0) * n), 0, n - 1))
    fy1 = int(np.clip(np.floor((y1 - wy0) / (wy1 - wy0) * n), 0, n - 1))
    count = (fx1 - fx0 + 1) * (fy1 - fy0 + 1)
    if count > max_cells:
        raise ValueError(f"bbox cover of {count} cells exceeds max_cells={max_cells}")
    gx, gy = np.meshgrid(
        np.arange(fx0, fx1 + 1, dtype=np.int64),
        np.arange(fy0, fy1 + 1, dtype=np.int64),
    )
    return make_cell(res, gx.ravel(), gy.ravel())


def cover_grid(x0, y0, x1, y1, res_list, world=WORLD):
    """(res, fx0, fy0, nx, cnt) of each (bbox, resolution) cover, shape
    (n_bbox, n_res): ``cover_bbox``'s floor/clamp arithmetic without the
    cells — ``cnt`` is the cover size.  A bbox with a NaN bound (an
    empty geometry's) covers no cell."""
    wx0, wy0, wx1, wy1 = world
    res = np.asarray(res_list, dtype=np.int64)[None, :]
    n = np.int64(1) << res
    nan = np.isnan([_as_np(v, np.float64) for v in (x0, y0, x1, y1)]).any(axis=0)[:, None]

    def floor_at(v, w0, w1):
        f = np.floor((_as_np(v, np.float64)[:, None] - w0) / (w1 - w0) * n)
        return np.clip(np.where(nan, 0, f), 0, n - 1).astype(np.int64)

    fx0, fy0 = floor_at(x0, wx0, wx1), floor_at(y0, wy0, wy1)
    nx = floor_at(x1, wx0, wx1) - fx0 + 1
    return res, fx0, fy0, nx, np.where(nan, 0, nx * (floor_at(y1, wy0, wy1) - fy0 + 1))


def cover_bboxes(x0, y0, x1, y1, res_list, world=WORLD, max_cells: int = 4096):
    """``cover_bbox`` of many bboxes at every resolution of ``res_list``
    in one CSR expansion: (row, cells, n_cells) arrays, bbox-major, then
    resolution, each cover in ``cover_bbox``'s row-major order and
    floor/clamp arithmetic.  Raises like ``cover_bbox``."""
    res, fx0, fy0, nx, cnt = cover_grid(x0, y0, x1, y1, res_list, world)
    cnt = cnt.ravel()
    if cnt.size and cnt.max() > max_cells:
        raise ValueError(f"bbox cover of {cnt.max()} cells exceeds max_cells={max_cells}")

    def rep(a):  # one value per (bbox, res) → one per emitted cell
        return np.repeat(np.broadcast_to(a, fx0.shape).ravel(), cnt)

    k = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    nxr = rep(nx)
    cells = make_cell(rep(res), rep(fx0) + k % nxr, rep(fy0) + k // nxr)
    return rep(np.arange(len(fx0))[:, None]), cells, np.repeat(cnt, cnt)


def pick_cover_res(x0, y0, x1, y1, res: int, world=WORLD, max_cells: int = 4096):
    """Coarsen ``res`` until the bbox cover fits in ``max_cells``."""
    r = res
    while r > 0:
        try:
            return r, cover_bbox(x0, y0, x1, y1, r, world, max_cells)
        except ValueError:
            r -= 1
    return 0, cover_bbox(x0, y0, x1, y1, 0, world, max_cells=max_cells)
