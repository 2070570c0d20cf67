"""kNN / nearest-neighbor joins (SURVEY.md §2.6 nearest/nearest_all).

Semantics from the reference:
- ``nearest_all``: ALL equidistant nearest right items per left row
  (reference strtree.py:278-355); ``max_distance`` caps the search
  (strtree.c:941-964); distance 0 for intersecting items.
- ``nearest``: one row per left; deterministic lowest-right-id
  tie-break (documented difference from the reference's
  nondeterminism, strtree.py:235-238).

Physical plans:
- **broadcast** (default): join.py's one broadcast path (one
  ``mapInArrow`` per Arrow batch, no shuffle); points against an
  all-point side run the grid kernel ``_nearest_all_points``, anything
  else the STRtree's best-first nearest.
- **cell kNN** (large✕large): one representative right point per
  occupied cell bounds each left row's nearest distance by d_ub; one
  cell disk of radius ceil(d_ub/h) per left row, equi-joined to the
  right cells, holds every right at the exact minimum, and all rows at
  that minimum are kept (tie-complete, no driver rounds).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from .kernel import cell as K_cell
from .kernel import grid as K_grid
from . import functions as SG
from . import join as SJ


def _nearest_op(max_distance, single):
    """The broadcast runner op of the kNN APIs: all-ties nearest per
    probe row, or (``single``) one row with the lowest right id — the
    tie-break runs in the worker, so nearest() needs no shuffle."""
    def op(side, probe):
        if probe.points and side.tree is None:
            li, ri, dd = _nearest_all_points(probe.xs, probe.ys, side.xs, side.ys,
                                             side.pos, max_distance)
        else:
            (li, ri), dd = side.geom_tree().nearest_all(
                probe.geoms(), max_distance=max_distance, return_distance=True)
        rids = side.ids[ri]
        if single:  # lexsort by (row, id): the first row of each run wins
            order = np.lexsort((rids, li))
            li, rids, dd = li[order], rids[order], dd[order]
            first = np.ones(len(li), dtype=bool)
            first[1:] = li[1:] != li[:-1]
            li, rids, dd = li[first], rids[first], dd[first]
        return li, rids, dd
    return op


def broadcast_nearest_all(left: DataFrame, right: DataFrame, *,
                          left_geom: str = "geom", right_geom: str = "geom",
                          right_id: str = "right_id",
                          max_distance: float | None = None,
                          max_right_rows: int | None = None) -> DataFrame:
    """All-ties nearest join; output = left columns + right_id + distance."""
    side = SJ._BroadcastSide.collect(right, "broadcast_nearest_all", right_id,
                                     right_geom, max_right_rows=max_right_rows)
    return SJ._run_broadcast(left, side, _nearest_op(max_distance, False),
                             right_id=right_id, geom=left_geom, with_distance=True)


def _nearest_all_points(xs, ys, txs, tys, tpos, max_distance):
    """Vectorized all-ties nearest (the all-equidistant semantics of
    reference strtree.py:278-355).

    Physical algorithm (r6, guide §1.2 "the distributed algorithm
    first"): a uniform grid bucket index over the right points replaces
    the (batch ✕ items) distance matrix — expected work per probe is
    O(points per occupied cell), not O(m).  Exactness is preserved: the
    ring expansion stops only when the running minimum provably beats
    every unvisited cell (cell-index delta >= k+1 implies coordinate
    distance >= k * cell_width), and the final all-ties gather
    recomputes np.hypot over the full disk of radius ceil(best/cw)+1,
    keeping d == best ties by exact float equality — bit-identical to
    the former matrix path (same np.hypot, same comparisons; verified
    in tests/test_knn_grid.py)."""
    n, m = len(xs), len(txs)
    # drop non-finite right points up front: a NaN coordinate would
    # poison the grid extent here (and poisoned the old matrix path's
    # row minima into dropping every result) — a point with no finite
    # position can never be a nearest neighbor
    finite = np.isfinite(txs) & np.isfinite(tys)
    if not finite.all():
        txs, tys, tpos = txs[finite], tys[finite], tpos[finite]
        m = len(txs)
    if m == 0:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0),)
    if m <= 64:
        # tiny trees: one (n x m) matrix is cheaper than grid setup
        return _nearest_all_points_matrix(xs, ys, txs, tys, tpos,
                                          max_distance)
    # -- grid build over the right points -----------------------------
    xmin, xmax = txs.min(), txs.max()
    ymin, ymax = tys.min(), tys.max()
    span = max(xmax - xmin, ymax - ymin, 1e-300)
    n_side = int(np.clip(np.sqrt(m), 1, 1 << 15))
    cw = span / n_side
    # clip in the float domain: a probe far outside the grid must not
    # reach a float -> int64 cast that is out of range
    tix = np.clip((txs - xmin) / cw, 0, n_side - 1).astype(np.int64)
    tiy = np.clip((tys - ymin) / cw, 0, n_side - 1).astype(np.int64)
    tcells = tiy * n_side + tix
    order = np.argsort(tcells, kind="stable")
    tcells_s = tcells[order]
    txs_s, tys_s, tpos_s = txs[order], tys[order], tpos[order]

    valid = ~(np.isnan(xs) | np.isnan(ys))
    sxs = np.where(valid, xs, 0.0)
    sys_ = np.where(valid, ys, 0.0)
    gx = np.clip((sxs - xmin) / cw, 0, n_side - 1).astype(np.int64)
    gy = np.clip((sys_ - ymin) / cw, 0, n_side - 1).astype(np.int64)

    def probe(rr, dx, dy, ok=True):
        """(probe_row, sorted item, distance) over the cells at offsets
        (dx, dy) from the cells of rows ``rr``, where ``ok``."""
        cx = gx[rr][:, None] + dx[None, :]
        cy = gy[rr][:, None] + dy[None, :]
        okc = (cx >= 0) & (cx < n_side) & (cy >= 0) & (cy < n_side) & ok
        prow, item = K_grid.gather(tcells_s, (cy * n_side + cx)[okc],
                                   np.repeat(rr, okc.sum(axis=1)))
        return prow, item, np.hypot(xs[prow] - txs_s[item], ys[prow] - tys_s[item])

    # -- phase 1: ring expansion until the minimum is proven ----------
    best = np.full(n, np.inf)
    alive = valid.copy()
    k = 0
    while alive.any() and k <= n_side:
        rows = np.nonzero(alive)[0]
        if k == 0:
            sdx = np.zeros(1, np.int64)
            sdy = np.zeros(1, np.int64)
        else:  # shell at Chebyshev cell distance exactly k
            e = np.arange(-k, k + 1, dtype=np.int64)
            mid = np.arange(-k + 1, k, dtype=np.int64)
            sdx = np.concatenate([e, e, np.full(len(mid), -k, np.int64),
                                  np.full(len(mid), k, np.int64)])
            sdy = np.concatenate([np.full(len(e), k, np.int64),
                                  np.full(len(e), -k, np.int64), mid, mid])
        prow, _, d = probe(rows, sdx, sdy)
        np.minimum.at(best, prow, d)
        done = best[rows] <= k * cw
        if max_distance is not None:
            done |= (k * cw) > max_distance
        alive[rows[done]] = False
        k += 1

    # -- phase 2: exact all-ties disk gather --------------------------
    have = valid & np.isfinite(best)
    if max_distance is not None:
        have &= best <= max_distance
    rows = np.nonzero(have)[0]
    if not len(rows):
        return (np.empty(0, np.int64),) * 2 + (np.empty(0),)
    kf = np.minimum(np.ceil(best[rows] / cw), float(n_side)) \
        .astype(np.int64) + 1
    lefts, rights, dists = [], [], []
    order2 = np.argsort(kf)
    budget = 1 << 22
    i = 0
    while i < len(rows):
        j = i + 1
        while j < len(rows) and (j - i + 1) * \
                (2 * int(kf[order2[j]]) + 1) ** 2 <= budget:
            j += 1
        sel = order2[i:j]
        kk = int(kf[sel].max())
        e = np.arange(-kk, kk + 1, dtype=np.int64)
        ddx = np.repeat(e, 2 * kk + 1)
        ddy = np.tile(e, 2 * kk + 1)
        prow, item, d = probe(rows[sel], ddx, ddy, np.maximum(
            np.abs(ddx), np.abs(ddy))[None, :] <= kf[sel][:, None])
        tie = d == best[prow]
        lefts.append(prow[tie])
        rights.append(tpos_s[item[tie]])
        dists.append(d[tie])
        i = j
    li = np.concatenate(lefts)
    ri = np.concatenate(rights)
    dd = np.concatenate(dists)
    # row-major (left, right-position) order like the matrix path's
    # np.nonzero — downstream tie-breaks (lexsort) do not depend on it,
    # but keep the contract deterministic
    order3 = np.lexsort((ri, li))
    return li[order3], ri[order3], dd[order3]


def _nearest_all_points_matrix(xs, ys, txs, tys, tpos, max_distance):
    """Small-tree fallback: chunked (batch ✕ items) distance matrix."""
    n, m = len(xs), len(txs)
    lefts, rights, dists = [], [], []
    chunk = max(1, int(4e7 // max(m, 1)))
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        cx, cy = xs[s:e], ys[s:e]
        d = np.hypot(cx[:, None] - txs[None, :], cy[:, None] - tys[None, :])
        dmin = d.min(axis=1)
        ok = ~np.isnan(dmin)
        if max_distance is not None:
            ok &= dmin <= max_distance
        ties = (d == dmin[:, None]) & ok[:, None]
        li, ri = np.nonzero(ties)
        lefts.append(li + s)
        rights.append(tpos[ri])
        dists.append(d[li, ri])
    if not lefts:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0),)
    return np.concatenate(lefts), np.concatenate(rights), np.concatenate(dists)


def nearest_all_lonlat(left: DataFrame, right: DataFrame, *,
                       lon: str = "lon", lat: str = "lat",
                       right_geom: str = "geom",
                       right_id: str = "right_id",
                       max_distance: float | None = None,
                       keep: list[str] | None = None,
                       max_right_rows: int | None = None,
                       right_lon: str | None = None,
                       right_lat: str | None = None) -> DataFrame:
    """All-ties nearest straight from lon/lat DOUBLE columns — the
    broadcast_lonlat_join analogue for kNN (r6, guide §2.3/§4.1): only
    the ``keep`` columns + 16 B of lon/lat doubles cross the Python
    boundary; no WKB is encoded or decoded on the probe side.  Results
    are identical to broadcast_nearest_all over st_point(lon, lat)
    (the WKB point round-trip is coordinate-exact).

    Output: keep columns + right_id + distance.  A right side that is
    not all points is probed through its STRtree with point geometries.
    ``right_lon``/``right_lat``: as in ``join.broadcast_lonlat_join``."""
    side = SJ._BroadcastSide.collect(right, "nearest_all_lonlat", right_id, right_geom,
                                     right_lon, right_lat, max_right_rows)
    return SJ._run_broadcast(left, side, _nearest_op(max_distance, False),
                             right_id=right_id, lonlat=(lon, lat), keep=keep,
                             with_distance=True)


def nearest_lonlat(left: DataFrame, right: DataFrame, *,
                   lon: str = "lon", lat: str = "lat",
                   right_geom: str = "geom", right_id: str = "right_id",
                   max_distance: float | None = None,
                   keep: list[str] | None = None,
                   right_lon: str | None = None,
                   right_lat: str | None = None) -> DataFrame:
    """nearest() from lon/lat doubles: one row per left row, lowest
    right-id tie-break inside the worker — zero exchanges, no WKB."""
    side = SJ._BroadcastSide.collect(right, "nearest_lonlat", right_id, right_geom,
                                     right_lon, right_lat)
    return SJ._run_broadcast(left, side, _nearest_op(max_distance, True),
                             right_id=right_id, lonlat=(lon, lat), keep=keep,
                             with_distance=True)


def nearest(left: DataFrame, right: DataFrame, *,
            left_geom: str = "geom", right_geom: str = "geom",
            right_id: str = "right_id",
            max_distance: float | None = None) -> DataFrame:
    """nearest(): one row per left row, lowest-right-id tie-break.

    The tie-break happens INSIDE the broadcast worker (one lexsort per
    Arrow batch) — the physical plan is a single mapInArrow over the
    left side with ZERO exchanges, vs the previous per-row-id window
    that shuffled the whole joined output."""
    side = SJ._BroadcastSide.collect(right, "nearest", right_id, right_geom)
    return SJ._run_broadcast(left, side, _nearest_op(max_distance, True),
                             right_id=right_id, geom=left_geom, with_distance=True)


# ---------------------------------------------------------------------------
# cell kNN (large ✕ large): bound every row, then probe one cell disk
# ---------------------------------------------------------------------------

def cell_nearest_all(left: DataFrame, right: DataFrame, *,
                     left_geom: str = "geom", right_geom: str = "geom",
                     left_id: str = "left_id", right_id: str = "right_id",
                     res: int = 7, max_rings: int = 16,
                     max_distance: float | None = None,
                     assume_points: bool = True) -> DataFrame:
    """Distributed all-ties nearest in one bound-then-probe pass.

    Returns (left_id, right_id, distance).  A left row is answered when
    some right geometry lies within ``max_rings`` Chebyshev cells of it
    at ``res`` (longitude wraps) and within ``max_distance``; the answer
    is every right row at its exact global minimum distance, which may
    lie beyond the ring limit.  Other rows are omitted (inner-join
    semantics like the reference), as are rows with no finite position.

    One driver collect, no caches:

    1. One right ``mapInArrow`` (join._run_side) decodes each WKB once
       into (_rid, _rx, _ry, _cell) rows: one per point, or one per
       cover cell of a geometry carrying its first vertex.  One
       representative real right point per occupied cell is collected
       under the broadcast cap (at a coarser parent resolution if the
       cap is hit) and broadcast.
    2. One left ``mapInArrow`` (the same runner) drops rows with no
       occupied cell within ``max_rings``, bounds each row's minimum by
       d_ub, the distance to the nearest representative, and emits the
       cell disk of radius ceil(min(d_ub, max_distance)/h) around the
       row's cell (points) or every cover cell (geometries).
       Geometries within d have points within d whose cells are within
       ceil(d/h) of each other, so the disk holds every right row at
       the minimum.
    3. One equi-join on cell feeds the distance: Catalyst ``hypot`` for
       points (``assume_points=True``), else an id-only pair shuffle,
       a geometry equi-join by id and join._run_refine's grouped
       ``batchwkb.batch_distance_one`` over each batch's decode_runs
       owner stacks (join._distance_refine).  Each pair keeps
       the Chebyshev ring of its closest cell pair, so the ring limit
       is exact.  Ties are exact float equality (replacing the
       reference's 1e-6 distance inflation, src/strtree.c:654-695).
    """
    h = 180.0 / (1 << res)  # cell height (deg); width is 2h
    if max_distance is not None:
        # a right within max_distance is within ceil(max_distance/h) rings
        max_rings = min(max_rings, int(np.ceil(max_distance / h)) + 1)

    def right_cells(s):  # each seed carries its row's first vertex
        first = np.searchsorted(s.prow, s.srow)
        return s.srow, [s.px[first], s.py[first], s.seeds]

    r = SJ._run_side(right, right_id, right_geom, "_rid",
                     [T.StructField("_rx", T.DoubleType(), False),
                      T.StructField("_ry", T.DoubleType(), False), SJ._CELL],
                     right_cells, res=res, points=assume_points)

    # a parent cell's representative is still a real right point, so a
    # coarser table only loosens the bound and the occupancy filter
    rres = res
    while True:
        reps = (r.groupBy(SG.st_cell_parent("_cell", rres).alias("_c"))
                .agg(F.min(F.struct("_rx", "_ry")).alias("_p")))
        try:
            rows = SJ._collect_right(reps, ["_c", "_p._rx", "_p._ry"],
                                     SJ.BROADCAST_RIGHT_LIMIT, "cell_nearest_all")
            break
        except ValueError:
            if rres == 0:
                raise
            rres -= 1
    oix, oiy = K_cell.cell_ixy(np.array([v[0] for v in rows], np.int64))
    rx, ry = np.array([v[1:] for v in rows], np.float64).reshape(-1, 2).T
    f = 1 << (res - rres)
    # occupied bounding box in res cells: no disk needs to reach past it
    box = ((oix.min() * f, oiy.min() * f, (oix.max() + 1) * f - 1,
            (oiy.max() + 1) * f - 1) if len(rows) else (0, 0, 0, 0))
    bc = left.sparkSession.sparkContext.broadcast(
        (rres, np.sort(oiy * (1 << rres) + oix), rx, ry, box))
    cap_d = np.inf if max_distance is None else max_distance

    def left_disks(s):
        rres_l, okeys, rx_l, ry_l, (bx0, by0, bx1, by1) = bc.value
        keep = np.zeros(s.n, bool)
        keep[s.srow[_near_occupied(s.seeds, okeys, res, rres_l, max_rings)]] = True
        pk = keep[s.prow]
        li, _, dd = _nearest_all_points(s.px[pk], s.py[pk], rx_l, ry_l,
                                        np.arange(len(rx_l)), None)
        d_ub = np.full(s.n, np.inf)
        np.minimum.at(d_ub, s.prow[pk][li], dd)
        sk = keep[s.srow]
        srow, seeds = s.srow[sk], s.seeds[sk]
        sx, sy = K_cell.cell_ixy(seeds)
        reach = np.maximum(np.maximum(np.abs(sx - bx0), np.abs(sx - bx1)),
                           np.maximum(np.abs(sy - by0), np.abs(sy - by1)))
        ks = np.minimum(np.ceil(np.minimum(d_ub[srow], cap_d) / h),
                        reach).astype(np.int64)
        row, cells, ring = SJ._disk_cells(srow, seeds, ks, res)
        xy = s.xy(row) if assume_points else []
        return row, [*xy, cells, ring.astype(np.int32)]

    disks = SJ._run_side(left, left_id, left_geom, "_lid",
                         [*(SJ._LXY if assume_points else []), SJ._CELL,
                          T.StructField("_ring", T.IntegerType(), False)],
                         left_disks, res=res, points=assume_points)
    if assume_points:
        cand = disks.join(r, "_cell").select(
            "_lid", "_rid", "_ring",
            F.hypot(F.col("_lx") - F.col("_rx"),
                    F.col("_ly") - F.col("_ry")).alias("_d"))
    else:
        pairs = (disks.join(r.select("_rid", "_cell"), "_cell")
                 .groupBy("_lid", "_rid").agg(F.min("_ring").alias("_ring")))
        cand = SJ._run_refine(SJ._join_back(pairs, left, left_id, left_geom,
                                            right, right_id, right_geom),
                              SJ._distance_refine, keep=("_lid", "_rid", "_ring"),
                              with_distance=True)
    if max_distance is not None:
        cand = cand.where(F.col("_d") <= max_distance)
    w = Window.partitionBy("_lid")
    return (cand.withColumn("_dmin", F.min("_d").over(w))
            .withColumn("_rmin", F.min("_ring").over(w))
            .where((F.col("_d") == F.col("_dmin"))
                   & (F.col("_rmin") <= max_rings))
            .select(F.col("_lid").alias(left_id),
                    F.col("_rid").alias(right_id),
                    F.col("_d").alias("distance"))
            .dropDuplicates([left_id, right_id]))


def _near_occupied(seeds, okeys, res: int, rres: int, rings: int):
    """True where an occupied cell lies within ``rings`` Chebyshev cells
    (at ``res``) of the seed cell; longitude wraps, latitude clamps.
    ``okeys`` are the occupied cells at ``rres`` <= ``res`` as sorted
    ``iy * 2^rres + ix`` keys.  Ring distance r at res is at most
    ceil(r / 2^(res - rres)) at rres, so a coarse table gives a
    conservative test.  Each distinct coarse seed cell checks one key
    range per stencil row, in blocks so cells ✕ stencil stays bounded."""
    shift = res - rres
    n = 1 << rres
    k = min(-(-rings >> shift), n)  # ceil(rings / 2^shift)
    sx, sy = K_cell.cell_ixy(seeds)
    ukeys, inv = np.unique((sy >> shift) * n + (sx >> shift),
                           return_inverse=True)
    near = np.zeros(len(ukeys), bool)
    step = max(1, (1 << 20) // (2 * k + 1))
    for s in range(0, len(ukeys), step):
        iy, ix = np.divmod(ukeys[s:s + step], n)
        yy = iy[:, None] + np.arange(-k, k + 1)[None, :]
        if 2 * k + 1 >= n:
            segs = [(np.zeros_like(ix), np.full_like(ix, n - 1))]
        else:  # the stencil's x range, split where it wraps
            lo, hi = ix - k, ix + k
            segs = [(np.maximum(lo, 0), np.minimum(hi, n - 1)),
                    (np.where(lo < 0, lo + n, 0),
                     np.where(lo < 0, n - 1, hi - n))]
        hit = np.zeros(yy.shape, bool)
        for a, b in segs:
            cnt = (np.searchsorted(okeys, yy * n + b[:, None], "right")
                   - np.searchsorted(okeys, yy * n + a[:, None], "left"))
            hit |= (cnt > 0) & (a <= b)[:, None]
        near[s:s + step] = (hit & (yy >= 0) & (yy < n)).any(axis=1)
    return near[inv]
