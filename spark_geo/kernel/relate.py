"""DE-9IM relate matrix (reference predicates.py:953-1007 relate /
relate_pattern, src/ufuncs.c:1780/:1821).

Each of the 9 entries is the dimension (F/0/1/2) of the intersection
of {Interior, Boundary, Exterior} of A with those of B.  Entries are
computed from the boundary-splitting exact primitives (round 3): every
probe segment is split at all boundary intersections so piece
midpoints classify whole pieces, interior-overlap falls back to a
nesting decision via hole-aware scanline interior points, and
collinear line overlaps test the shared extent's midpoint — exact for
arbitrary concave / holed polygonal and lineal input (see
predicates._interiors_intersect / covers)."""

from __future__ import annotations

import numpy as np

from .geom import (GEOMETRYCOLLECTION, LINEARRING, LINESTRING, MULTILINESTRING,
                   MULTIPOINT, MULTIPOLYGON, POINT, POLYGON, Geom)
from . import construct as C
from . import measure as M
from . import predicates as P

F_DIM = -1


def _dim_char(d: int) -> str:
    return "F" if d < 0 else str(d)


def _boundary(g: Geom) -> Geom | None:
    b = C.boundary(g)
    return None if (b is None or b.is_empty) else b


def _on_lines(x_pts: np.ndarray, lines: Geom) -> np.ndarray:
    segs = M.segments(lines)
    if not len(segs) or not len(x_pts):
        return np.zeros(len(x_pts), dtype=bool)
    return M.points_to_segments_dist(x_pts[:, 0], x_pts[:, 1], segs) <= 1e-12


def _collinear_overlap(sa: np.ndarray, sb: np.ndarray) -> bool:
    """True iff some segment pair is collinear with positive-length
    shared extent (a true 1-dim intersection, not a crossing point)."""
    eps = 1e-12
    for x1, y1, x2, y2 in sa:
        dx, dy = x2 - x1, y2 - y1
        L = np.hypot(dx, dy)
        if L == 0:
            continue
        for u1, v1, u2, v2 in sb:
            c1 = dx * (v1 - y1) - dy * (u1 - x1)
            c2 = dx * (v2 - y1) - dy * (u2 - x1)
            if abs(c1) > eps * L or abs(c2) > eps * L:
                continue  # not collinear
            # project onto the a-segment; need positive-length overlap
            t1 = ((u1 - x1) * dx + (v1 - y1) * dy) / (L * L)
            t2 = ((u2 - x1) * dx + (v2 - y1) * dy) / (L * L)
            lo, hi = min(t1, t2), max(t1, t2)
            if min(hi, 1.0) - max(lo, 0.0) > eps:
                return True
    return False


def _line_line_dim(a: Geom, b: Geom, a_open: bool, b_open: bool) -> int:
    """dim of intersection of two lineal sets; open = exclude the
    line's own endpoints (interior of a linestring)."""
    sa, sb = M.segments(a), M.segments(b)
    if not len(sa) or not len(sb):
        return F_DIM
    # 1-dim requires genuine collinear shared extent
    if _collinear_overlap(sa, sb):
        # openness can only shave endpoints off a positive-length
        # overlap, so it stays 1-dimensional
        return 1
    # 0-dim: proper crossing (always interior-to-interior)
    if P._proper_crossing(sa, sb):
        return 0
    # touching points (respecting openness)
    pa = P._sample_points(a)
    keep = _on_lines(pa, b)
    if a_open:
        keep &= P._points_in_interior(pa, a)
    if b_open:
        keep &= P._points_in_interior(pa, b)
    if bool(keep.any()):
        return 0
    pb = P._sample_points(b)
    on_a = _on_lines(pb, a)
    if a_open:
        on_a &= P._points_in_interior(pb, a)
    if b_open:
        on_a &= P._points_in_interior(pb, b)
    return 0 if bool(on_a.any()) else F_DIM


def _pts_dim(a_pts: np.ndarray, b: Geom, b_kind: str, b_open: bool) -> int:
    """dim of (point set ∩ set b) — always 0 or F."""
    if not len(a_pts):
        return F_DIM
    if b_kind == "area":
        inside, bnd = P.points_in_polygon(a_pts[:, 0], a_pts[:, 1], b)
        hit = inside if b_open else (inside | bnd)
    elif b_kind == "line":
        hit = _on_lines(a_pts, b)
        if b_open:
            gg = Geom(MULTIPOINT, parts=[Geom.point(x, y) for x, y in a_pts])
            hit &= P._points_in_interior(a_pts, b)
    else:  # points
        bp = P._point_coords(b)
        if not len(bp):
            return F_DIM
        d = np.hypot(a_pts[:, None, 0] - bp[None, :, 0],
                     a_pts[:, None, 1] - bp[None, :, 1])
        hit = (d <= 1e-12).any(axis=1)
    return 0 if bool(hit.any()) else F_DIM


def _kind(g: Geom) -> str:
    d = g.dimensions()
    return "area" if d == 2 else ("line" if d == 1 else "points")


def _inter_dim(a: Geom | None, a_open: bool, b: Geom | None, b_open: bool) -> int:
    """dim of the intersection of two sets, each a geometry optionally
    restricted to its interior (open=True)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return F_DIM
    ka, kb = _kind(a), _kind(b)
    if ka == "points":
        return _pts_dim(P._point_coords(a), b, kb, b_open)
    if kb == "points":
        return _pts_dim(P._point_coords(b), a, ka, a_open)
    if ka == "area" and kb == "area":
        if a_open and b_open:
            return 2 if P._interiors_intersect(a, b) else F_DIM
        # closed areas: any intersection has dim 2 unless boundary-only
        if P._interiors_intersect(a, b):
            return 2
        if P.intersects(a, b):
            # boundary contact: shared edge -> 1, corner -> 0
            return _line_line_dim(C.boundary(a), C.boundary(b), False, False)
        return F_DIM
    if ka == "area" or kb == "area":
        area, area_open = (a, a_open) if ka == "area" else (b, b_open)
        line, line_open = (b, b_open) if ka == "area" else (a, a_open)
        return _line_area_dim(line, line_open, area, area_open)
    # line ✕ line
    return _line_line_dim(a, b, a_open, b_open)


def _line_area_dim(line: Geom, line_open: bool, area: Geom,
                   area_open: bool) -> int:
    """EXACT dim of (line ∩ area-or-its-interior): every line segment
    is split at all of its intersections with the area's boundary
    (predicates._segment_split_params — proper crossings, touches,
    collinear overlaps) and each piece's midpoint classifies the whole
    piece.  Exit/re-enter across concave pockets cannot slip between
    samples."""
    asegs = M.segments(area)
    lsegs = M.segments(line)
    if not len(asegs) or not len(lsegs):
        return F_DIM
    has_in = has_bnd_piece = False
    touch_pts = []
    for seg in lsegs:
        cuts = P._segment_split_params(seg, asegs)
        knots = np.unique(np.concatenate([[0.0, 1.0], cuts])) \
            if len(cuts) else np.array([0.0, 1.0])
        t = (knots[:-1] + knots[1:]) / 2.0
        mx = seg[0] + t * (seg[2] - seg[0])
        my = seg[1] + t * (seg[3] - seg[1])
        inside, bnd = P.points_in_polygon(mx, my, area)
        if bool(inside.any()):
            has_in = True
        if bool(bnd.any()):
            has_bnd_piece = True  # positive-length run ON the boundary
        for tt in np.concatenate([knots[:1], cuts, knots[-1:]]) \
                if len(cuts) else knots[[0, -1]]:
            touch_pts.append((seg[0] + tt * (seg[2] - seg[0]),
                              seg[1] + tt * (seg[3] - seg[1])))
        if has_in and (area_open or has_bnd_piece):
            break  # dim already maximal for this configuration
    if area_open:
        # interior of the area: only strictly-inside pieces count;
        # a positive-length piece stays 1-dim under line openness
        return 1 if has_in else F_DIM
    if has_in or has_bnd_piece:
        return 1
    # 0-dim: split/end points lying on the boundary (respect openness
    # of the line: its own endpoints don't belong to its interior)
    if touch_pts:
        pts = np.asarray(touch_pts, dtype=np.float64)
        _, on_b = P.points_in_polygon(pts[:, 0], pts[:, 1], area)
        if line_open:
            on_b &= P._points_in_interior(pts, line)
        if bool(on_b.any()):
            return 0
    return F_DIM


def relate(a: Geom | None, b: Geom | None) -> str | None:
    """DE-9IM matrix string; None input -> None (reference
    predicates.py:953-975)."""
    if a is None or b is None:
        return None
    ba, bb = _boundary(a), _boundary(b)
    dim_a = a.dimensions() if not a.is_empty else F_DIM
    dim_b = b.dimensions() if not b.is_empty else F_DIM

    def dim_of(g):
        return F_DIM if g is None else g.dimensions()

    ii = _inter_dim(a, True, b, True)
    ib = _inter_dim(a, True, bb, False) if bb is not None else F_DIM
    bi = _inter_dim(ba, False, b, True) if ba is not None else F_DIM
    bbm = _inter_dim(ba, False, bb, False) if (ba is not None and bb is not None) else F_DIM
    # X ∩ exterior(Y): F iff Y's closure covers X
    ie = F_DIM if (a.is_empty or P.covers(b, a)) else dim_a
    ei = F_DIM if (b.is_empty or P.covers(a, b)) else dim_b
    be = F_DIM if (ba is None or P.covers(b, ba)) else dim_of(ba)
    eb = F_DIM if (bb is None or P.covers(a, bb)) else dim_of(bb)
    ee = 2
    return "".join(_dim_char(d) for d in (ii, ib, ie, bi, bbm, be, ei, eb, ee))


def relate_pattern(a: Geom | None, b: Geom | None, pattern: str) -> bool:
    """Match the DE-9IM matrix against a pattern of {T,F,*,0,1,2}
    (reference predicates.py:975-1007)."""
    if len(pattern) != 9:
        raise ValueError("DE-9IM pattern must be 9 characters")
    m = relate(a, b)
    if m is None:
        return False
    for mc, pc in zip(m, pattern):
        if pc == "*":
            continue
        if pc == "T":
            if mc == "F":
                return False
        elif pc.upper() == "F":
            if mc != "F":
                return False
        elif mc != pc:
            return False
    return True
