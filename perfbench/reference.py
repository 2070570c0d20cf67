"""Numpy reference answers and the output checker.

Every op's result is compared with an answer computed here from the
generated inputs, by methods independent of spark_geo's kernels:

- star polygons: exact sector test (``inputs.Stars.contains``);
- tiles: box-grid arithmetic on the cell formula;
- dwithin: pairs found through a grid hash of cell size ``d``;
- kNN: brute force over all pairs, all ties kept;
- rasterize: per-polygon area fractions must sum to 1.

Pair sets are compared through a digest: the pair count and the sum of
``(a * DIGEST_K + b) mod DIGEST_P`` over pairs, which Spark computes in
the same aggregate that forces the op.
"""

from __future__ import annotations

import numpy as np

DIGEST_K = 1_000_003
DIGEST_P = 2_147_483_647
REL_TOL = 1e-9


class Mismatch(AssertionError):
    """An op's output differs from the reference."""


def digest(a, b) -> tuple:
    a = np.asarray(a, np.int64)
    b = np.asarray(b, np.int64)
    return int(len(a)), int(((a * DIGEST_K + b) % DIGEST_P).sum())


def expect(cond: bool, what: str):
    if not cond:
        raise Mismatch(what)


def expect_close(got, want, what: str, tol: float = REL_TOL):
    got, want = float(got or 0.0), float(want)
    expect(abs(got - want) <= tol * max(1.0, abs(want)), f"{what}: got {got!r}, want {want!r}")


# ---------------------------------------------------------------------------
# cells (same formula as the engine's quad grid, written out here)
# ---------------------------------------------------------------------------

def cell_ixy(lon, lat, res: int):
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def cell_id(lon, lat, res: int):
    ix, iy = cell_ixy(lon, lat, res)
    return (np.int64(res) << 56) | (iy << 28) | ix


def cell_box(cell):
    cell = np.asarray(cell, np.int64)
    res = cell >> 56
    ix, iy = cell & ((1 << 28) - 1), (cell >> 28) & ((1 << 28) - 1)
    n = (np.int64(1) << res).astype(np.float64)
    w, h = 360.0 / n, 180.0 / n
    return -180.0 + ix * w, -90.0 + iy * h, -180.0 + ix * w + w, -90.0 + iy * h + h


# ---------------------------------------------------------------------------
# point-in-polygon and polygon-polygon
# ---------------------------------------------------------------------------

def stars_pip(stars, px, py):
    """All (point_index, star_index) pairs with the point inside or on the
    star, plus the number of bbox candidates examined."""
    order = np.argsort(px, kind="stable")
    sx = px[order]
    pts, polys, cands = [], [], 0
    for i in range(len(stars)):
        x0, y0, x1, y1 = stars.bounds[i]
        lo, hi = np.searchsorted(sx, x0, "left"), np.searchsorted(sx, x1, "right")
        cand = order[lo:hi]
        cand = cand[(py[cand] >= y0) & (py[cand] <= y1)]
        cands += len(cand)
        hit = cand[stars.contains(i, px[cand], py[cand])]
        pts.append(hit)
        polys.append(np.full(len(hit), i, np.int64))
    return np.concatenate(pts), np.concatenate(polys), cands


# ---------------------------------------------------------------------------
# point pairs
# ---------------------------------------------------------------------------

def grid_pairs(lx, ly, rx, ry, d: float):
    """All (left, right) index pairs within distance d via a grid hash of
    cell size d, plus the count of envelope candidates (|dx|,|dy| <= d)."""
    bx, by = np.floor(rx / d).astype(np.int64), np.floor(ry / d).astype(np.int64)
    key = bx * 1_000_003 + by
    order = np.argsort(key, kind="stable")
    skey = key[order]
    qx, qy = np.floor(lx / d).astype(np.int64), np.floor(ly / d).astype(np.int64)
    li_all, ri_all = [], []
    for ox in (-1, 0, 1):
        for oy in (-1, 0, 1):
            k = (qx + ox) * 1_000_003 + (qy + oy)
            lo = np.searchsorted(skey, k, "left")
            hi = np.searchsorted(skey, k, "right")
            cnt = hi - lo
            li = np.repeat(np.arange(len(lx)), cnt)
            start = np.repeat(lo - np.cumsum(cnt) + cnt, cnt)
            ri = order[start + np.arange(cnt.sum())]
            li_all.append(li)
            ri_all.append(ri)
    li, ri = np.concatenate(li_all), np.concatenate(ri_all)
    env = (np.abs(lx[li] - rx[ri]) <= d) & (np.abs(ly[li] - ry[ri]) <= d)
    within = np.hypot(lx[li] - rx[ri], ly[li] - ry[ri]) <= d
    return li[within], ri[within], int(env.sum())


def nearest_brute(lx, ly, rx, ry, chunk: int = 512):
    """All-ties nearest by brute force -> (left_idx, right_idx, dist)."""
    out_l, out_r, out_d = [], [], []
    for s in range(0, len(lx), chunk):
        d = np.hypot(lx[s:s + chunk, None] - rx[None], ly[s:s + chunk, None] - ry[None])
        dmin = d.min(axis=1)
        li, ri = np.nonzero(d == dmin[:, None])
        out_l.append(li + s)
        out_r.append(ri)
        out_d.append(d[li, ri])
    return np.concatenate(out_l), np.concatenate(out_r), np.concatenate(out_d)


def within_rings(lx, ly, rx, ry, res: int, rings: int):
    """Left rows with some right point within ``rings`` Chebyshev cells
    (longitude wraps), the ring-expansion kNN's search limit."""
    n = 1 << res
    lix, liy = cell_ixy(lx, ly, res)
    rix, riy = cell_ixy(rx, ry, res)
    ok = np.zeros(len(lx), bool)
    for s in range(0, len(lx), 2048):
        dx = np.abs(lix[s:s + 2048, None] - rix[None])
        dx = np.minimum(dx, n - dx)
        dy = np.abs(liy[s:s + 2048, None] - riy[None])
        ok[s:s + 2048] = (np.maximum(dx, dy) <= rings).any(axis=1)
    return ok


# ---------------------------------------------------------------------------
# per-workload expected answers
# ---------------------------------------------------------------------------

def pages_reference(truth: dict, flag_res: int, tile_res: int, tile_parent: int) -> dict:
    lon, lat, stars = truth["lon"], truth["lat"], truth["stars"]
    tagged = ~np.isnan(lon)
    idx = np.nonzero(tagged)[0]
    pi, poly, cands = stars_pip(stars, lon[idx], lat[idx])
    page = idx[pi]
    cells = cell_id(lon[page], lat[page], flag_res)
    per_poly = {}
    for p in np.unique(poly):
        m = poly == p
        per_poly[int(p)] = (int(m.sum()), int(len(np.unique(cells[m]))))
    fine = cell_id(lon[idx], lat[idx], tile_res)
    parent = cell_id(lon[idx], lat[idx], tile_parent)
    pc, pn = np.unique(parent, return_counts=True)
    return {"flagship": per_poly, "pairs": digest(page, poly),
            "tiles": dict(zip(pc.tolist(), pn.tolist())),
            "props": {"tagged": int(tagged.sum()), "pip_pairs": len(page),
                      "pip_envelope_candidates": cands,
                      "fine_cells": int(len(np.unique(fine)))}}


def point_cell_reference(truth: dict, knn_res: int, max_rings: int) -> dict:
    px, py, pid = truth["px"], truth["py"], truth["pid"]
    sx, sy, sid = truth["sx"], truth["sy"], truth["sid"]
    li, ri, env = grid_pairs(px, py, sx, sy, truth["distance"])
    pi, poly, _ = stars_pip(truth["stars"], px, py)
    q = truth["pois"]
    nl, nr, nd = nearest_brute(px, py, sx[:q], sy[:q])
    # a nearest site less than max_rings - 1 cell heights away is within
    # the ring limit; only farther rows need the exact cell test
    h = 180.0 / (1 << knn_res)
    ok = np.ones(len(px), bool)
    far = np.unique(nl[nd >= (max_rings - 1) * h])
    ok[far] = within_rings(px[far], py[far], sx[:q], sy[:q], knn_res, max_rings)
    keep = ok[nl]
    nl, nr, nd = nl[keep], nr[keep], nd[keep]
    return {"dwithin": digest(pid[li], sid[ri]), "cell_pip": digest(pid[pi], poly),
            "cell_knn": digest(pid[nl], sid[nr]), "cell_knn_dist": float(nd.sum()),
            "props": {"dwithin_pairs": len(li), "dwithin_envelope_candidates": env,
                      "dwithin_pairs_per_left": round(len(li) / len(px), 3),
                      "cell_pip_pairs": len(pi),
                      "knn_rows_beyond_ring_limit": int((~ok).sum())}}


# ---------------------------------------------------------------------------
# checks of collected results
# ---------------------------------------------------------------------------

def check_flagship(rows, want: dict):
    got = {int(r[0]): (int(r[1]), int(r[2])) for r in rows}
    expect(len(got) == len(rows), "flagship: duplicate polygon ids")
    bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    expect(not bad, f"flagship: {len(bad)} polygons differ, e.g. {bad[:3]} "
                    f"got {[got.get(k) for k in bad[:3]]} want {[want.get(k) for k in bad[:3]]}")


def check_tiles(rows, want: dict, unpack):
    got = {int(r[0]): int(r[1]) for r in rows}
    expect(got == want, f"tiles: {len(set(got.items()) ^ set(want.items()))} (cell, count) rows differ")
    cells = np.array([int(r[0]) for r in rows], np.int64)
    x0, y0, x1, y1 = cell_box(cells)
    for k, r in enumerate(rows):
        x, y = unpack(bytes(r[2]))
        ok = np.allclose([x.min(), y.min(), x.max(), y.max()], [x0[k], y0[k], x1[k], y1[k]],
                         rtol=0, atol=1e-9)
        expect(ok and len(x) == 5, f"tiles: cell {int(r[0])} box has wrong corners")


def check_rasterize(rows, n_polys: int, bounds, res: int):
    expect(len(rows) == n_polys, f"rasterize: {len(rows)} polygons in output, want {n_polys}")
    for pid, n, frac, cmin, cmax in rows:
        expect(n >= 1 and abs(frac - 1.0) <= 1e-9,
               f"rasterize: polygon {pid} area fractions sum to {frac!r} over {n} cells")
        ix0, iy0 = cell_ixy(bounds[pid, 0], bounds[pid, 1], res)
        ix1, iy1 = cell_ixy(bounds[pid, 2], bounds[pid, 3], res)
        for c in (cmin, cmax):
            cx, cy = c & ((1 << 28) - 1), (c >> 28) & ((1 << 28) - 1)
            expect(c >> 56 == res and ix0 <= cx <= ix1 and iy0 <= cy <= iy1,
                   f"rasterize: polygon {pid} cell {c} outside its bbox cells")


def check_digest(got: tuple, want: tuple, what: str):
    expect((int(got[0]), int(got[1] or 0)) == tuple(want),
           f"{what}: (pairs, checksum) got {got[:2]}, want {want}")
