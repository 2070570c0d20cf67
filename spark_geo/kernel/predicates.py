"""Spatial predicate kernels (vectorized NumPy).

Semantics follow the reference's DE-9IM-documented behavior
(pygeos/predicates.py): any None operand -> False
(predicates.py:156-158); contains = interior of B intersects interior
of A and B within A (predicates.py:470-519); touches = only boundaries
shared (predicates.py:822-860); etc.  The point-in-polygon test is
even-odd ray casting (the north-star's named refine kernel), with the
boundary handled explicitly so contains (interior-only) and covers
(interior+boundary) diverge correctly.

The hot vectorized entry points — ``points_in_polygon``,
``points_covered_by``, ``any_segments_intersect`` — take whole NumPy
arrays; the scalar geom×geom predicates are used for the (small,
broadcast) polygon-layer side and for parity tests against the
reference's pytest tables.
"""

from __future__ import annotations

import numpy as np

from .geom import (GEOMETRYCOLLECTION, LINEARRING, LINESTRING, MULTILINESTRING,
                   MULTIPOINT, MULTIPOLYGON, POINT, POLYGON, Geom)
from . import measure as M

_EPS = 1e-12

_POLYGONAL = (POLYGON, MULTIPOLYGON)
_LINEAL = (LINESTRING, LINEARRING, MULTILINESTRING)
_PUNTAL = (POINT, MULTIPOINT)


# ---------------------------------------------------------------------------
# vectorized point-in-polygon (ray casting)
# ---------------------------------------------------------------------------

def _ring_even_odd(px, py, ring):
    """Even-odd crossing test for P points against one ring -> bool (P,).

    Evaluated in cache-sized point chunks (see
    measure.points_to_segments_dist) — the O(P·E) temporaries stay
    L2-resident so parallel workers scale instead of contending for
    DRAM bandwidth."""
    if len(ring) < 4:
        return np.zeros(len(px), dtype=bool)
    x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    pxa = np.asarray(px, dtype=np.float64)
    pya = np.asarray(py, dtype=np.float64)
    e = x1.shape[1]
    out = np.empty(len(pxa), dtype=bool)
    step = max(1, 65536 // max(e, 1))
    with np.errstate(divide="ignore", invalid="ignore"):
        for s in range(0, len(pxa), step):
            pxc = pxa[s:s + step][:, None]
            pyc = pya[s:s + step][:, None]
            cond = (y1 > pyc) != (y2 > pyc)
            xint = x1 + (pyc - y1) * (x2 - x1) / (y2 - y1)
            crossing = cond & (pxc < xint)
            out[s:s + step] = (crossing.sum(axis=1) % 2).astype(bool)
    return out


def _ring_segs(ring):
    return np.hstack([ring[:-1], ring[1:]])


def points_in_polygon(px, py, g: Geom):
    """-> (strict_inside, on_boundary) bool arrays for a POLYGON /
    MULTIPOLYGON / collection-of-polygons geometry."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = len(px)
    inside = np.zeros(n, dtype=bool)
    boundary = np.zeros(n, dtype=bool)
    for poly in _iter_polygons(g):
        if not poly.rings or len(poly.rings[0]) < 4:
            continue
        in_shell = _ring_even_odd(px, py, poly.rings[0])
        on_b = M.points_to_segments_dist(px, py, _ring_segs(poly.rings[0])) <= _EPS
        in_holes = np.zeros(n, dtype=bool)
        for hole in poly.rings[1:]:
            if len(hole) < 4:
                continue
            hb = M.points_to_segments_dist(px, py, _ring_segs(hole)) <= _EPS
            on_b |= hb & (in_shell | on_b)
            in_holes |= _ring_even_odd(px, py, hole) & ~hb
        inside |= in_shell & ~in_holes & ~on_b
        boundary |= on_b
    boundary &= ~inside
    return inside, boundary


def points_covered_by(px, py, g: Geom) -> np.ndarray:
    """inside-or-on-boundary for polygonal g -> bool (P,)."""
    inside, boundary = points_in_polygon(px, py, g)
    return inside | boundary


def _iter_polygons(g: Geom):
    if g is None:
        return
    if g.type_id == POLYGON:
        yield g
    elif g.type_id in (MULTIPOLYGON, GEOMETRYCOLLECTION):
        for p in g.parts:
            yield from _iter_polygons(p)


# ---------------------------------------------------------------------------
# segment ✕ segment intersection (vectorized M×N)
# ---------------------------------------------------------------------------

def _seg_cross_matrix(A, B):
    """Pairwise segment intersection masks for A (M,4) × B (N,4).

    Returns (any_touch (M,N), proper (M,N)): any_touch includes
    endpoint/collinear contact; proper = interiors cross at a point."""
    ax1, ay1, ax2, ay2 = (A[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (B[:, i][None, :] for i in range(4))

    d1 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    d2 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    d3 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    d4 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)

    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) \
        & (np.abs(d1) > _EPS) & (np.abs(d2) > _EPS) \
        & (np.abs(d3) > _EPS) & (np.abs(d4) > _EPS)

    def on_seg(d, px, py, x1, y1, x2, y2):
        return (np.abs(d) <= _EPS) & (px >= np.minimum(x1, x2) - _EPS) \
            & (px <= np.maximum(x1, x2) + _EPS) \
            & (py >= np.minimum(y1, y2) - _EPS) & (py <= np.maximum(y1, y2) + _EPS)

    touch = proper.copy()
    touch |= on_seg(d1, ax1, ay1, bx1, by1, bx2, by2)
    touch |= on_seg(d2, ax2, ay2, bx1, by1, bx2, by2)
    touch |= on_seg(d3, bx1, by1, ax1, ay1, ax2, ay2)
    touch |= on_seg(d4, bx2, by2, ax1, ay1, ax2, ay2)
    # general non-collinear endpoint-free crossing with sign change
    straddle = ((d1 > _EPS) & (d2 < -_EPS) | (d1 < -_EPS) & (d2 > _EPS)) & \
               ((d3 > _EPS) & (d4 < -_EPS) | (d3 < -_EPS) & (d4 > _EPS))
    touch |= straddle
    return touch, proper


def any_segments_intersect(A, B) -> bool:
    if not len(A) or not len(B):
        return False
    touch, _ = _seg_cross_matrix(np.asarray(A, float), np.asarray(B, float))
    return bool(touch.any())


def _proper_crossing(A, B) -> bool:
    if not len(A) or not len(B):
        return False
    _, proper = _seg_cross_matrix(np.asarray(A, float), np.asarray(B, float))
    return bool(proper.any())


# ---------------------------------------------------------------------------
# scalar geometry ✕ geometry predicates
# ---------------------------------------------------------------------------

def _bbox_disjoint(a: Geom, b: Geom, pad: float = 0.0) -> bool:
    ax0, ay0, ax1, ay1 = a.bounds()
    bx0, by0, bx1, by1 = b.bounds()
    if np.isnan(ax0) or np.isnan(bx0):
        return True
    return ax1 + pad < bx0 or bx1 + pad < ax0 or ay1 + pad < by0 or by1 + pad < ay0


def _point_coords(g: Geom) -> np.ndarray:
    """Coordinates of isolated points (puntal parts only)."""
    if g.type_id == POINT:
        return g.coords
    if g.type_id == MULTIPOINT:
        arrs = [p.coords for p in g.parts if len(p.coords)]
        return np.vstack(arrs) if arrs else np.empty((0, 2))
    if g.type_id == GEOMETRYCOLLECTION:
        arrs = [_point_coords(p) for p in g.parts]
        arrs = [a for a in arrs if len(a)]
        return np.vstack(arrs) if arrs else np.empty((0, 2))
    return np.empty((0, 2))


def _is_polygonal(g):
    return g.type_id in _POLYGONAL or (
        g.type_id == GEOMETRYCOLLECTION and any(_is_polygonal(p) for p in g.parts))


def _sample_points(g: Geom) -> np.ndarray:
    """Vertices + segment midpoints — the covered/interior sampling set."""
    v = M.vertices(g)
    segs = M.segments(g)
    if len(segs):
        mids = np.column_stack([(segs[:, 0] + segs[:, 2]) / 2,
                                (segs[:, 1] + segs[:, 3]) / 2])
        return np.vstack([v, mids])
    return v


def _lineal_segments(g: Geom) -> np.ndarray:
    """Segments drawn from LINEAL parts only (recursing into GCs) —
    unlike M.segments, polygon-ring segments are excluded, so a mixed
    GEOMETRYCOLLECTION's lineal content can be tested independently of
    its polygonal content (ADVICE r4: predicates.py:212)."""
    if g.type_id in _LINEAL:
        return M.segments(g)
    if g.type_id == GEOMETRYCOLLECTION:
        arrs = [_lineal_segments(p) for p in g.parts]
        arrs = [a for a in arrs if len(a)]
        return np.vstack(arrs) if arrs else np.empty((0, 4))
    return np.empty((0, 4))


def _points_covered(pts: np.ndarray, g: Geom) -> np.ndarray:
    """Is each point in pts within g (interior or boundary)?"""
    n = len(pts)
    if n == 0:
        return np.zeros(0, dtype=bool)
    out = np.zeros(n, dtype=bool)
    if _is_polygonal(g):
        out |= points_covered_by(pts[:, 0], pts[:, 1], g)
        # a GC mixing polygons and lines: test the lineal parts too
        segs = _lineal_segments(g) if g.type_id == GEOMETRYCOLLECTION \
            else np.empty((0, 4))
    else:
        segs = M.segments(g)
    if len(segs):
        out |= M.points_to_segments_dist(pts[:, 0], pts[:, 1], segs) <= _EPS
    gp = _point_coords(g)
    if len(gp):
        d = np.hypot(pts[:, None, 0] - gp[None, :, 0], pts[:, None, 1] - gp[None, :, 1])
        out |= (d <= _EPS).any(axis=1)
    return out


def _points_in_interior(pts: np.ndarray, g: Geom) -> np.ndarray:
    """Is each point strictly in g's interior?  Interior of a line is
    the line minus its endpoints; interior of a point is the point."""
    n = len(pts)
    if n == 0:
        return np.zeros(0, dtype=bool)
    out = np.zeros(n, dtype=bool)
    if _is_polygonal(g):
        inside, _ = points_in_polygon(pts[:, 0], pts[:, 1], g)
        out |= inside
        segs = _lineal_segments(g) if g.type_id == GEOMETRYCOLLECTION \
            else np.empty((0, 4))
    else:
        segs = M.segments(g)
    if len(segs):
        on_line = M.points_to_segments_dist(pts[:, 0], pts[:, 1], segs) <= _EPS
        bpts = _line_boundary_points(g)
        if len(bpts):
            d = np.hypot(pts[:, None, 0] - bpts[None, :, 0],
                         pts[:, None, 1] - bpts[None, :, 1])
            on_line &= ~(d <= _EPS).any(axis=1)
        out |= on_line
    gp = _point_coords(g)
    if len(gp):
        d = np.hypot(pts[:, None, 0] - gp[None, :, 0], pts[:, None, 1] - gp[None, :, 1])
        out |= (d <= _EPS).any(axis=1)
    return out


def _line_boundary_points(g: Geom) -> np.ndarray:
    """Boundary of lineal g = endpoints of non-closed linestrings."""
    out = []
    def walk(q):
        if q.type_id == LINESTRING and len(q.coords) >= 2:
            if not np.array_equal(q.coords[0], q.coords[-1]):
                out.append(q.coords[0])
                out.append(q.coords[-1])
        elif q.type_id == LINEARRING:
            pass  # closed: empty boundary
        else:
            for p in q.parts:
                walk(p)
    walk(g)
    return np.asarray(out, dtype=np.float64).reshape(-1, 2)


def intersects(a: Geom | None, b: Geom | None) -> bool:
    """Share any space (reference predicates.py:735-766); None -> False."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if _bbox_disjoint(a, b):
        return False
    va = _sample_points(a)
    vb = _sample_points(b)
    if len(va) and _points_covered(va, b).any():
        return True
    if len(vb) and _points_covered(vb, a).any():
        return True
    if any_segments_intersect(M.segments(a), M.segments(b)):
        return True
    return False


def disjoint(a, b) -> bool:
    """¬intersects, but None operands are NOT disjoint (False) —
    reference predicates.py:662-701 doctests."""
    if a is None or b is None:
        return False
    if a.is_empty or b.is_empty:
        return True
    return not intersects(a, b)


def _segment_split_params(seg, segs) -> np.ndarray:
    """Parameters t in [0,1] where ``seg`` meets any of ``segs`` —
    proper crossings, endpoint touches, AND collinear-overlap endpoints
    (vectorized).  Splitting at these t's decomposes the segment into
    pieces that are each entirely inside or outside a polygon bounded
    by ``segs``."""
    x1, y1, x2, y2 = seg
    dx, dy = x2 - x1, y2 - y1
    x3, y3, x4, y4 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    den = (y4 - y3) * dx - (x4 - x3) * dy
    eps = 1e-12
    ts = []
    nonpar = np.abs(den) > eps
    if nonpar.any():
        d = den[nonpar]
        ua = ((x4 - x3)[nonpar] * (y1 - y3[nonpar])
              - (y4 - y3)[nonpar] * (x1 - x3[nonpar])) / d
        ub = (dx * (y1 - y3[nonpar]) - dy * (x1 - x3[nonpar])) / d
        hit = (ua >= -eps) & (ua <= 1 + eps) & (ub >= -eps) & (ub <= 1 + eps)
        ts.append(np.clip(ua[hit], 0.0, 1.0))
    # collinear boundary pieces: project their endpoints onto seg
    par = ~nonpar
    if par.any():
        cross3 = (x3[par] - x1) * dy - (y3[par] - y1) * dx
        col = np.abs(cross3) <= eps * max(1.0, abs(dx) + abs(dy))
        if col.any():
            L2 = dx * dx + dy * dy
            if L2 > 0:
                xs3, ys3 = x3[par][col], y3[par][col]
                xs4, ys4 = x4[par][col], y4[par][col]
                t3 = ((xs3 - x1) * dx + (ys3 - y1) * dy) / L2
                t4 = ((xs4 - x1) * dx + (ys4 - y1) * dy) / L2
                for t in (t3, t4):
                    ok = (t >= -eps) & (t <= 1 + eps)
                    ts.append(np.clip(t[ok], 0.0, 1.0))
    if not ts:
        return np.empty(0, dtype=np.float64)
    return np.unique(np.concatenate(ts))


def covers(a: Geom | None, b: Geom | None) -> bool:
    """No point of b outside a (reference predicates.py:617-660).

    For polygonal a this is EXACT: every segment of b is split at all
    of its intersections with a's boundary (proper crossings, touches,
    collinear overlaps) and the midpoint of every resulting piece must
    be covered — a piece that exits a concave pocket between vertex
    samples produces an uncovered midpoint, so exit/re-enter paths
    cannot slip through."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    pts = _sample_points(b)
    if not len(pts) or not _points_covered(pts, a).all():
        return False
    if _is_polygonal(a):
        bsegs = M.segments(b)
        asegs = M.segments(a)
        if len(bsegs) and len(asegs):
            for seg in bsegs:
                cuts = _segment_split_params(seg, asegs)
                knots = np.unique(np.concatenate(
                    [[0.0, 1.0], cuts])) if len(cuts) else np.array([0.0, 1.0])
                mids_t = (knots[:-1] + knots[1:]) / 2.0
                mx = seg[0] + mids_t * (seg[2] - seg[0])
                my = seg[1] + mids_t * (seg[3] - seg[1])
                if not _points_covered(np.column_stack([mx, my]), a).all():
                    return False
        # holes of a swallowed whole by polygonal b: b's boundary never
        # enters such a hole (the split-midpoint test above catches the
        # partial case), so probe the hole region — one probe per
        # even-odd interval per vertex band of (hole − islands of a),
        # so islands of a partially filling the hole cannot absorb the
        # single witness point (ADVICE r3 high).
        if _is_polygonal(b) and b.dimensions() == 2:
            bb = b.bounds()
            for poly in _iter_polygons(a):
                for hole in poly.rings[1:]:
                    if len(hole) < 4:
                        continue
                    hx0, hy0 = hole[:, 0].min(), hole[:, 1].min()
                    hx1, hy1 = hole[:, 0].max(), hole[:, 1].max()
                    if hx1 < bb[0] or bb[2] < hx0 or hy1 < bb[1] or bb[3] < hy0:
                        continue
                    reps = _hole_probe_points(hole, a)
                    if not len(reps):
                        continue
                    hot = _points_in_interior(reps, b) \
                        & ~_points_covered(reps, a)
                    if bool(hot.any()):
                        return False
    return True


def _hole_probe_points(hole: np.ndarray, a: Geom) -> np.ndarray:
    """Probe points hitting EVERY connected component of (interior of
    ``hole``) − (parts of ``a`` nested inside the hole).  Even-odd band
    sweep: the hole ring plus every ring of each a-polygon whose shell
    lies inside the hole; at the midline of each gap between
    consecutive distinct vertex y-levels, emit the midpoint of every
    inside interval.  Any positive-area component of the region fully
    spans at least one such band (its boundary is made of these rings'
    segments), so it yields at least one probe — a single per-hole
    probe could land on an island and miss uncovered hole area."""
    rings = [hole]
    hx0, hy0 = hole[:, 0].min(), hole[:, 1].min()
    hx1, hy1 = hole[:, 0].max(), hole[:, 1].max()
    hx1r, hy1r = hole[:-1, 0], hole[:-1, 1]
    hx2r, hy2r = hole[1:, 0], hole[1:, 1]
    for p in _iter_polygons(a):
        shell = p.rings[0]
        if len(shell) < 4:
            continue
        sx, sy = shell[0, 0], shell[0, 1]
        if sx < hx0 or sx > hx1 or sy < hy0 or sy > hy1:
            continue
        crossing = (hy1r > sy) != (hy2r > sy)
        if not crossing.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = hx1r[crossing] + (sy - hy1r[crossing]) * \
                (hx2r[crossing] - hx1r[crossing]) / \
                (hy2r[crossing] - hy1r[crossing])
        if int((xs > sx).sum()) % 2 == 1:  # shell starts inside hole
            rings.extend(r for r in p.rings if len(r) >= 4)
    allseg = np.vstack([np.hstack([r[:-1], r[1:]]) for r in rings])
    ys = np.unique(np.concatenate([r[:, 1] for r in rings]))
    x1, y1, x2, y2 = allseg[:, 0], allseg[:, 1], allseg[:, 2], allseg[:, 3]
    out = []
    for yc in (ys[:-1] + ys[1:]) / 2.0:
        crossing = (y1 > yc) != (y2 > yc)
        if not crossing.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = np.sort(x1[crossing] + (yc - y1[crossing]) *
                         (x2[crossing] - x1[crossing]) /
                         (y2[crossing] - y1[crossing]))
        n2 = len(xs) // 2 * 2
        if not n2:
            continue
        w = xs[1:n2:2] - xs[0:n2:2]
        mids = ((xs[0:n2:2] + xs[1:n2:2]) / 2.0)[w > 0]
        if len(mids):
            out.append(np.column_stack([mids, np.full(len(mids), yc)]))
    return np.vstack(out) if out else np.empty((0, 2))


def covered_by(a, b) -> bool:
    return covers(b, a)


def _polygon_interior_point(poly: Geom) -> np.ndarray | None:
    """A point strictly interior to one POLYGON part, hole-aware: scan
    a horizontal at a y strictly between two distinct vertex levels,
    collect even-odd crossings over ALL rings (shell + holes), and take
    the midpoint of the widest inside interval.  Tries every vertex
    level gap (middle-out) so thin/stepped shapes still yield a
    witness; None only for degenerate zero-area input."""
    rings = [r for r in poly.rings if len(r) >= 4]
    if not rings:
        return None
    allseg = np.vstack([np.hstack([r[:-1], r[1:]]) for r in rings])
    ys = np.unique(np.concatenate([r[:, 1] for r in rings]))
    if len(ys) < 2:
        return None
    order = np.argsort(np.abs(np.arange(len(ys) - 1) - (len(ys) - 1) / 2.0))
    x1, y1, x2, y2 = allseg[:, 0], allseg[:, 1], allseg[:, 2], allseg[:, 3]
    for gi in order:
        yc = (ys[gi] + ys[gi + 1]) / 2.0
        crossing = (y1 > yc) != (y2 > yc)
        if not crossing.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = x1[crossing] + (yc - y1[crossing]) * \
                (x2[crossing] - x1[crossing]) / (y2[crossing] - y1[crossing])
        xs = np.sort(xs)
        if len(xs) < 2:
            continue
        widths = xs[1::2] - xs[0::2][: len(xs[1::2])]
        if not len(widths) or widths.max() <= 0:
            continue
        k = int(np.argmax(widths))
        return np.array([[(xs[2 * k] + xs[2 * k + 1]) / 2.0, yc]])
    return None


def _split_midpoints_in_interior(line: Geom, area: Geom) -> bool:
    """EXACT "line passes through area's interior": each line segment
    is split at every intersection with the area's boundary
    (_segment_split_params: proper crossings, vertex touches, collinear
    overlaps), so each piece lies entirely inside, on, or outside the
    area and its midpoint classifies it — vertex-entry paths and
    concave pockets cannot slip between samples."""
    asegs = M.segments(area)
    for seg in M.segments(line):
        cuts = _segment_split_params(seg, asegs) if len(asegs) else \
            np.empty(0, np.float64)
        knots = np.unique(np.concatenate([[0.0, 1.0], cuts])) \
            if len(cuts) else np.array([0.0, 1.0])
        t = (knots[:-1] + knots[1:]) / 2.0
        mx = seg[0] + t * (seg[2] - seg[0])
        my = seg[1] + t * (seg[3] - seg[1])
        inside, _ = points_in_polygon(mx, my, area)
        if bool(inside.any()):
            return True
    return False


def _collinear_overlap_interior_point(a: Geom, b: Geom) -> bool:
    """Some point interior to BOTH lineal geometries along a collinear
    positive-length segment overlap (the shared extent's midpoint is
    interior to both unless it degenerates, which positive length
    forbids)."""
    sa, sb = M.segments(a), M.segments(b)
    if not len(sa) or not len(sb):
        return False
    eps = 1e-12
    ba, bb_ = _line_boundary_points(a), _line_boundary_points(b)

    def interior_both(x, y):
        p = np.array([[x, y]])
        return bool(_points_in_interior(p, a).any()
                    and _points_in_interior(p, b).any())

    for x1, y1, x2, y2 in sa:
        dx, dy = x2 - x1, y2 - y1
        L2 = dx * dx + dy * dy
        if L2 == 0:
            continue
        for u1, v1, u2, v2 in sb:
            c1 = dx * (v1 - y1) - dy * (u1 - x1)
            c2 = dx * (v2 - y1) - dy * (u2 - x1)
            if abs(c1) > eps * np.sqrt(L2) or abs(c2) > eps * np.sqrt(L2):
                continue
            t1 = ((u1 - x1) * dx + (v1 - y1) * dy) / L2
            t2 = ((u2 - x1) * dx + (v2 - y1) * dy) / L2
            lo, hi = max(min(t1, t2), 0.0), min(max(t1, t2), 1.0)
            if hi - lo > eps:
                tm = (lo + hi) / 2.0
                if interior_both(x1 + tm * dx, y1 + tm * dy):
                    return True
    return False


def _interiors_intersect(a: Geom, b: Geom) -> bool:
    """EXACT interior-overlap test (the second operand of contains /
    overlaps / crosses and the DE-9IM ii entry).  Round 3 removed the
    sampling caveat: polygon✕polygon falls back to the general overlay
    (positive intersection area ⇔ interiors meet), polygon✕line uses
    boundary-split midpoints, line✕line adds the collinear-overlap
    interior witness — all exact for arbitrary concave/holed input."""
    dim_a, dim_b = a.dimensions(), b.dimensions()
    # polygon ✕ polygon
    if dim_a == 2 and dim_b == 2:
        if _proper_crossing(M.segments(a), M.segments(b)):
            return True
        pa, pb = _sample_points(a), _sample_points(b)
        ia = _points_in_interior(pa, b) if len(pa) else np.zeros(0, bool)
        ib = _points_in_interior(pb, a) if len(pb) else np.zeros(0, bool)
        if ia.any() or ib.any():
            return True
        # no proper crossing, no sample witness.  Exact decision:
        # (1) a boundary piece of one strictly inside the other — the
        #     split decomposition makes any boundary∩interior overlap
        #     contain a whole piece, so its midpoint witnesses it;
        if _split_midpoints_in_interior(b, a) or \
                _split_midpoints_in_interior(a, b):
            return True
        # (2) otherwise neither boundary meets the other's interior, so
        #     each part's interior lies entirely inside or entirely
        #     outside the other polygon (connectedness) — one hole-aware
        #     interior point per part decides, and it cannot sit on the
        #     other's boundary (that would be a boundary-in-interior
        #     point, excluded by (1)).
        for x, y in ((a, b), (b, a)):
            for part in _iter_polygons(x):
                w = _polygon_interior_point(part)
                if w is not None:
                    inside, _ = points_in_polygon(w[:, 0], w[:, 1], y)
                    if bool(inside.any()):
                        return True
        return False
    if dim_a < dim_b:
        a, b = b, a
        dim_a, dim_b = dim_b, dim_a
    # now dim_a >= dim_b
    if dim_b == 0:  # point interior inside a's interior
        pts = _point_coords(b)
        return bool(len(pts) and _points_in_interior(pts, a).any())
    if dim_a == 2 and dim_b == 1:  # line through polygon interior
        return _split_midpoints_in_interior(b, a)
    # line ✕ line
    sa, sb = M.segments(a), M.segments(b)
    if _proper_crossing(sa, sb):
        return True
    if _collinear_overlap_interior_point(a, b):
        return True
    # interior touching at a vertex of either line
    for pts, other in ((_sample_points(b), a), (_sample_points(a), b)):
        if len(pts):
            ia = _points_in_interior(pts, a)
            ib = _points_in_interior(pts, b)
            if bool((ia & ib).any()):
                return True
    return False


def contains(a, b) -> bool:
    """b within a with interior intersection (reference
    predicates.py:470-519: 'B is completely inside A' and boundaries
    may touch but a boundary-only point does not qualify)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    return covers(a, b) and _interiors_intersect(a, b)


def within(a, b) -> bool:
    """= contains(b, a) (reference predicates.py:862-909)."""
    return contains(b, a)


def contains_properly(a, b) -> bool:
    """contains with no boundary contact (reference predicates.py:523-570,
    prepared-only GEOSPreparedContainsProperly)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    pts = _sample_points(b)
    if not len(pts):
        return False
    if not _points_in_interior(pts, a).all():
        return False
    return not _proper_crossing(M.segments(b), M.segments(a))


def touches(a, b) -> bool:
    """Share boundaries only (reference predicates.py:822-860)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    return intersects(a, b) and not _interiors_intersect(a, b)


def crosses(a, b) -> bool:
    """Interiors intersect with lower-dimensional intersection
    (reference predicates.py:420-468)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    dim_a, dim_b = a.dimensions(), b.dimensions()
    if not _interiors_intersect(a, b):
        return False
    if dim_a == dim_b == 1:
        # line/line: must cross at points, not overlap along a segment
        if covers(a, b) or covers(b, a):
            return False
        return _proper_crossing(M.segments(a), M.segments(b))
    if dim_a == dim_b:
        return False  # equal non-line dims never cross
    lo, hi = (a, b) if dim_a < dim_b else (b, a)
    # lower-dim geom must not be fully covered (some of it outside)
    return not covers(hi, lo)


def overlaps(a, b) -> bool:
    """Same-dimension partial overlap (reference predicates.py:768-820)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if a.dimensions() != b.dimensions():
        return False
    if not _interiors_intersect(a, b):
        return False
    if a.dimensions() == 1:
        # overlap must be 1-dimensional: collinear shared length
        pts = _sample_points(b)
        shared = _points_in_interior(pts, a) & _points_in_interior(pts, b)
        if not shared.any():
            return False
    return not covers(a, b) and not covers(b, a)


def equals(a, b) -> bool:
    """Topological equality (reference predicates.py:703-733)."""
    if a is None or b is None:
        return False
    if a.is_empty and b.is_empty:
        return True
    if a.is_empty or b.is_empty:
        return False
    return covers(a, b) and covers(b, a)


def equals_exact(a, b, tolerance: float = 0.0) -> bool:
    """Structural equality with tolerance (reference
    predicates.py:910-951, src/ufuncs.c:1560)."""
    if a is None or b is None:
        return False
    if a.type_id != b.type_id:
        return False
    ca, cb = M.vertices(a), M.vertices(b)
    if ca.shape != cb.shape:
        return False
    if len(ca) == 0:
        return True
    return bool(np.all(np.abs(ca - cb) <= tolerance))


def dwithin(a, b, distance: float) -> bool:
    """Within given distance (reference predicates.py:1009-1052);
    None/empty -> False like other predicates."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if _bbox_disjoint(a, b, pad=distance):
        return False
    return bool(M.distance(a, b) <= distance)
