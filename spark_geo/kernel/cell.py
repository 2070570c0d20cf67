"""Deterministic quad-grid cell index (H3/S2-style, built from scratch).

The coarse index behind the two-phase spatial join and the tiling
operators (BASELINE.json north_star: "batch-encoded to H3/S2 cells").
We use a plain lat/lon quad grid rather than hexagons so cell
assignment is exactly reproducible in ANSI SQL (DuckDB oracle):

    ix   = floor((lon + 180) / 360 * 2^r)   clipped to [0, 2^r - 1]
    iy   = floor((lat +  90) / 180 * 2^r)   clipped to [0, 2^r - 1]
    cell = (r << 56) | (iy << 28) | ix      (int64, r ≤ 26)

Hierarchy: parent at resolution r' keeps the top bits of ix/iy —
O(1), no tables.  k-rings wrap in longitude and clamp at the poles.
"""

from __future__ import annotations

import numpy as np

from .geom import Geom
from . import predicates as P

MAX_RES = 26
_RES_SHIFT = 56
_IY_SHIFT = 28
_IX_MASK = (1 << _IY_SHIFT) - 1
_IY_MASK = (1 << (_RES_SHIFT - _IY_SHIFT)) - 1


def cell_of(lon, lat, res: int):
    """Vectorized (lon, lat) -> int64 cell id.  NaN coords -> -1."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}]")
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = np.int64(1) << res
    bad = np.isnan(lon) | np.isnan(lat)
    lon = np.where(bad, 0.0, lon)
    lat = np.where(bad, 0.0, lat)
    # clip before the int cast, like Catalyst's saturating cast in
    # st_cell_lonlat: far or infinite coordinates land on the edge cell
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    cell = (np.int64(res) << _RES_SHIFT) | (iy << _IY_SHIFT) | ix
    return np.where(bad, np.int64(-1), cell)


def cell_res(cell):
    return (np.asarray(cell, dtype=np.int64) >> _RES_SHIFT).astype(np.int64)


def cell_ixy(cell):
    c = np.asarray(cell, dtype=np.int64)
    return (c & _IX_MASK), ((c >> _IY_SHIFT) & _IY_MASK)


def cell_parent(cell, parent_res: int):
    """Vectorized parent cell at a coarser resolution (tile rollups)."""
    c = np.asarray(cell, dtype=np.int64)
    r = cell_res(c)
    ix, iy = cell_ixy(c)
    shift = (r - parent_res).astype(np.int64)
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell resolution")
    pix, piy = ix >> shift, iy >> shift
    out = (np.int64(parent_res) << _RES_SHIFT) | (piy << _IY_SHIFT) | pix
    return np.where(c < 0, np.int64(-1), out)


def cell_bounds(cell):
    """Vectorized cell id -> (xmin, ymin, xmax, ymax) arrays."""
    c = np.asarray(cell, dtype=np.int64)
    r = cell_res(c)
    ix, iy = cell_ixy(c)
    n = (np.int64(1) << r).astype(np.float64)
    w, h = 360.0 / n, 180.0 / n
    xmin = -180.0 + ix * w
    ymin = -90.0 + iy * h
    return xmin, ymin, xmin + w, ymin + h


def k_ring(cell_id: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the kNN expansion ring,
    analogue of the reference's bbox expansion, src/strtree.c:1165-1188).
    Longitude wraps; latitude clamps at the poles."""
    c = int(cell_id)
    r = int(c >> _RES_SHIFT)
    ix = c & _IX_MASK
    iy = (c >> _IY_SHIFT) & _IY_MASK
    n = 1 << r
    out = []
    for dy in range(-k, k + 1):
        yy = iy + dy
        if yy < 0 or yy >= n:
            continue
        for dx in range(-k, k + 1):
            xx = (ix + dx) % n
            out.append((r << _RES_SHIFT) | (yy << _IY_SHIFT) | xx)
    return np.asarray(sorted(set(out)), dtype=np.int64)


def k_ring_batch(cells: np.ndarray, k: int,
                 k_per_row: np.ndarray | None = None):
    """Vectorized k-ring over a whole cell array (r4, VERDICT r3 item
    6 — replaces per-row Python ``k_ring`` calls in the expansion
    UDFs).  Returns (candidates (m, t) int64, valid (m, t) bool): all
    cells within Chebyshev distance ``k`` (or per-row
    ``k_per_row[i] <= k``) of each input cell, longitude wrapped,
    latitude clamped; invalid slots (pole clamp, negative input cell,
    beyond the row's k) are masked out.  Rows may contain duplicates
    after longitude wrap — callers dedupe per row (np.unique)."""
    c = np.asarray(cells, dtype=np.int64)
    m = len(c)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx = np.repeat(offs, 2 * k + 1)
    dy = np.tile(offs, 2 * k + 1)
    if m == 0:
        return (np.empty((0, len(dx)), np.int64),
                np.empty((0, len(dx)), bool))
    r = c >> _RES_SHIFT
    ix = c & _IX_MASK
    iy = (c >> _IY_SHIFT) & _IY_MASK
    n = np.int64(1) << np.maximum(r, 0)
    yy = iy[:, None] + dy[None, :]
    valid = (yy >= 0) & (yy < n[:, None]) & (c >= 0)[:, None]
    if k_per_row is not None:
        cheb = np.maximum(np.abs(dx), np.abs(dy))
        valid &= cheb[None, :] <= np.asarray(k_per_row,
                                             np.int64)[:, None]
    xx = (ix[:, None] + dx[None, :]) % n[:, None]
    out = (r[:, None] << _RES_SHIFT) | (yy << _IY_SHIFT) | xx
    return out, valid


def k_ring_lists(cells: np.ndarray, k: int,
                 k_per_row: np.ndarray | None = None) -> list:
    """Per-row sorted unique k-ring cell arrays (empty for invalid)."""
    out, valid = k_ring_batch(cells, k, k_per_row)
    return [np.unique(out[i][valid[i]]) for i in range(len(out))]


def ring_shell(cell_id: int, k: int) -> np.ndarray:
    """Only the cells at exactly Chebyshev distance k (ring expansion
    probes one shell at a time)."""
    if k == 0:
        return np.asarray([cell_id], dtype=np.int64)
    inner = set(k_ring(cell_id, k - 1).tolist())
    return np.asarray([c for c in k_ring(cell_id, k) if c not in inner], dtype=np.int64)


def cover(geom: Geom | None, res: int, max_cells: int = 4096) -> np.ndarray:
    """Cells overlapping ``geom`` at resolution ``res`` (polygon ->
    cell cover for the left/right side of a cell equi-join).

    Exact: bbox candidate cells filtered by box∩geom intersection.
    Falls back to coarser resolution if the bbox cover would exceed
    ``max_cells`` (the refine step makes over-coverage safe)."""
    if geom is None or geom.is_empty:
        return np.empty(0, dtype=np.int64)
    xmin, ymin, xmax, ymax = geom.bounds()
    r = res
    while True:
        n = 1 << r
        ix0 = max(0, min(n - 1, int(np.floor((xmin + 180.0) / 360.0 * n))))
        ix1 = max(0, min(n - 1, int(np.floor((xmax + 180.0) / 360.0 * n))))
        iy0 = max(0, min(n - 1, int(np.floor((ymin + 90.0) / 180.0 * n))))
        iy1 = max(0, min(n - 1, int(np.floor((ymax + 90.0) / 180.0 * n))))
        if (ix1 - ix0 + 1) * (iy1 - iy0 + 1) <= max_cells or r == 0:
            break
        r -= 1
    cells = []
    n = 1 << r
    w, h = 360.0 / n, 180.0 / n
    for yy in range(iy0, iy1 + 1):
        for xx in range(ix0, ix1 + 1):
            box = Geom.box(-180.0 + xx * w, -90.0 + yy * h,
                           -180.0 + (xx + 1) * w, -90.0 + (yy + 1) * h)
            if P.intersects(box, geom):
                cells.append((r << _RES_SHIFT) | (yy << _IY_SHIFT) | xx)
    return np.asarray(sorted(cells), dtype=np.int64)


def cover_to_res(cells: np.ndarray, res: int) -> np.ndarray:
    """Re-express a (possibly coarser) cover at resolution ``res`` by
    enumerating children.  Used when ``cover`` degraded resolution."""
    out = []
    for c in np.asarray(cells, dtype=np.int64):
        r = int(c >> _RES_SHIFT)
        if r == res:
            out.append(int(c))
            continue
        ix = int(c & _IX_MASK)
        iy = int((c >> _IY_SHIFT) & _IY_MASK)
        f = 1 << (res - r)
        for dy in range(f):
            for dx in range(f):
                out.append((res << _RES_SHIFT) | ((iy * f + dy) << _IY_SHIFT) | (ix * f + dx))
    return np.asarray(sorted(set(out)), dtype=np.int64)


def cell_sql_expr(lon_expr: str, lat_expr: str, res: int) -> str:
    """ANSI-SQL expression computing the same cell id — this is what
    makes every cell-based operator DuckDB-oracle-checkable."""
    n = 1 << res
    return (
        f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT}"
        f" + LEAST(GREATEST(CAST(FLOOR(({lat_expr} + 90.0) / 180.0 * {n}) AS BIGINT), 0), {n - 1})"
        f" * {1 << _IY_SHIFT}"
        f" + LEAST(GREATEST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}) AS BIGINT), 0), {n - 1}))"
    )
