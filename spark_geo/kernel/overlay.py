"""General polygon boolean overlay — Greiner–Hormann clipping.

Backs the reference's binary set ops (set_operations.py §2.7:
intersection / union / difference / symmetric_difference) for
arbitrary SIMPLE polygon shells where the convex fast paths of
kernel.construct don't apply.

Degeneracies (shared edges, vertex-on-edge — which GH cannot handle)
are broken by translating the clip polygon by a relative epsilon
(~1e-9 of the bbox extent) and retrying; the area error is O(eps ·
perimeter), documented.  Holes: the v1 overlay operates on shells;
hole rings are clipped independently and re-attached when they stay
inside the result shell (exact for the common hole-away-from-boundary
case).
"""

from __future__ import annotations

import numpy as np

from .geom import GEOMETRYCOLLECTION, MULTIPOLYGON, POLYGON, Geom
from . import measure as M
from . import predicates as P


class _Node:
    __slots__ = ("x", "y", "nxt", "prv", "neighbor", "entry", "inter",
                 "alpha", "visited")

    def __init__(self, x, y, inter=False, alpha=0.0):
        self.x, self.y = x, y
        self.nxt = self.prv = None
        self.neighbor = None
        self.entry = False
        self.inter = inter
        self.alpha = alpha
        self.visited = False


def _build(ring):
    nodes = [_Node(float(x), float(y)) for x, y in ring[:-1]]
    for i, n in enumerate(nodes):
        n.nxt = nodes[(i + 1) % len(nodes)]
        n.prv = nodes[i - 1]
    return nodes


def _iter_ring(first):
    n = first
    while True:
        yield n
        n = n.nxt
        if n is first:
            break


def _insert(node, start, end):
    """Insert an intersection node between start and end, ordered by
    alpha among other intersection nodes on the same edge."""
    cur = start
    while cur.nxt is not end and cur.nxt.inter and cur.nxt.alpha < node.alpha:
        cur = cur.nxt
    node.nxt = cur.nxt
    node.prv = cur
    cur.nxt.prv = node
    cur.nxt = node


def _edge_intersections(s_nodes, c_nodes):
    """Find proper edge✕edge intersections; returns count, raises
    _Degenerate on any non-generic configuration."""
    count = 0
    eps = 1e-12

    # gather original-vertex edges (skip intersection nodes)
    def orig_edges(nodes):
        out = []
        for n in nodes:
            m = n.nxt
            while m.inter:
                m = m.nxt
            out.append((n, m))
        return out

    for s1, s2 in orig_edges(s_nodes):
        for c1, c2 in orig_edges(c_nodes):
            den = (c2.y - c1.y) * (s2.x - s1.x) - (c2.x - c1.x) * (s2.y - s1.y)
            if den == 0:
                # parallel: degenerate only if collinear AND overlapping
                continue
            ua = ((c2.x - c1.x) * (s1.y - c1.y) - (c2.y - c1.y) * (s1.x - c1.x)) / den
            ub = ((s2.x - s1.x) * (s1.y - c1.y) - (s2.y - s1.y) * (s1.x - c1.x)) / den
            if -eps < ua < eps or 1 - eps < ua < 1 + eps or \
               -eps < ub < eps or 1 - eps < ub < 1 + eps:
                if -eps <= ua <= 1 + eps and -eps <= ub <= 1 + eps:
                    raise _Degenerate()
                continue
            if 0 < ua < 1 and 0 < ub < 1:
                x = s1.x + ua * (s2.x - s1.x)
                y = s1.y + ua * (s2.y - s1.y)
                ns = _Node(x, y, inter=True, alpha=ua)
                nc = _Node(x, y, inter=True, alpha=ub)
                ns.neighbor, nc.neighbor = nc, ns
                _insert(ns, s1, s2)
                _insert(nc, c1, c2)
                count += 1
    return count


class _Degenerate(Exception):
    pass


def _point_in(x, y, ring):
    inside, boundary = P.points_in_polygon(
        np.array([x]), np.array([y]), Geom(POLYGON, rings=[ring]))
    if boundary[0]:
        raise _Degenerate()
    return bool(inside[0])


def _mark_entries(nodes, other_ring, invert):
    first = nodes[0]
    status_inside = _point_in(first.x, first.y, other_ring)
    entry = not status_inside  # next intersection is an entry if we start outside
    if invert:
        entry = not entry
    for n in _iter_ring(first):
        if n.inter:
            n.entry = entry
            entry = not entry


def _trace(s_nodes):
    """Collect result rings from marked intersection nodes (standard
    GH tracing: follow nxt after an entry, prv after an exit, jump to
    the neighbor list at each intersection, stop on return/revisit)."""
    results = []
    inters = [n for n in _iter_ring(s_nodes[0]) if n.inter]
    for start in inters:
        if start.visited:
            continue
        ring = []
        cur = start
        guard = 0
        while True:
            guard += 1
            if guard > 100000:
                raise _Degenerate()
            cur.visited = True
            if cur.neighbor is not None:
                cur.neighbor.visited = True
            if cur.entry:
                while True:
                    ring.append((cur.x, cur.y))
                    cur = cur.nxt
                    if cur.inter:
                        break
            else:
                while True:
                    ring.append((cur.x, cur.y))
                    cur = cur.prv
                    if cur.inter:
                        break
            cur = cur.neighbor
            if cur is start or cur.visited and (cur.x, cur.y) == (ring[0][0], ring[0][1]):
                break
            if cur.visited:
                break
        if len(ring) >= 3:
            arr = np.asarray(ring + [ring[0]], dtype=np.float64)
            results.append(arr)
    return results


def _gh(subject_ring, clip_ring, op):
    """One GH pass on two shells; raises _Degenerate on non-generic
    input.  op ∈ {intersection, union, difference}."""
    s_nodes = _build(subject_ring)
    c_nodes = _build(clip_ring)
    n_inter = _edge_intersections(s_nodes, c_nodes)
    if n_inter == 0:
        raise _NoIntersections()
    if n_inter % 2 != 0:
        raise _Degenerate()
    # entry/exit marking per op (GH paper's invert table)
    invert_s = op in ("union", "difference")
    invert_c = op in ("union",)
    _mark_entries(s_nodes, clip_ring, invert_s)
    _mark_entries(c_nodes, subject_ring, invert_c)
    rings = _trace(s_nodes)
    return rings


class _NoIntersections(Exception):
    pass


def _shell(g: Geom):
    return g.rings[0] if g.rings else None


def _union_fold(parts):
    """Dissolve a list of POLYGON shells into disjoint polygons by
    pairwise GH merges.  Pairs that cannot be dissolved (degenerate
    configurations the epsilon-retry couldn't break) stay side-by-side
    — the same graceful degradation as the binary fallback.  Each
    successful merge reduces the total polygon count by one, so the
    loop terminates."""
    todo = list(parts)
    done = []
    while todo:
        cur = todo.pop()
        merged = False
        for i, q in enumerate(done):
            if not P.intersects(cur, q):
                continue
            u = overlay(cur, q, "union")
            if u is not None and u.type_id == POLYGON:
                done.pop(i)
                todo.append(u)
                merged = True
                break
        if not merged:
            done.append(cur)
    return done


def overlay(a: Geom | None, b: Geom | None, op: str) -> Geom | None:
    """General boolean overlay of two polygons (shells + re-attached
    holes).  op ∈ {intersection, union, difference,
    symmetric_difference}."""
    if a is None or b is None:
        return None
    if op == "symmetric_difference":
        left = overlay(a, b, "difference")
        right = overlay(b, a, "difference")
        parts = []
        for g in (left, right):
            if g is not None and not g.is_empty:
                parts.extend(g.parts if g.type_id == MULTIPOLYGON else [g])
        if not parts:
            return Geom(GEOMETRYCOLLECTION)
        return parts[0] if len(parts) == 1 else Geom(MULTIPOLYGON, parts=parts)

    # trivial cases
    if a.is_empty:
        return b if op == "union" else Geom(GEOMETRYCOLLECTION)
    if b.is_empty:
        return a if op in ("union", "difference") else Geom(GEOMETRYCOLLECTION)
    if op == "union" and (a.type_id == MULTIPOLYGON or b.type_id == MULTIPOLYGON):
        flat = [p for g in (a, b)
                for p in (g.parts if g.type_id == MULTIPOLYGON else [g])
                if not p.is_empty]
        if not flat:
            return Geom(GEOMETRYCOLLECTION)
        if any(p.type_id != POLYGON for p in flat):
            # non-polygon parts inside a multi-operand: per-dimension
            # dispatch (r5 — replaces the NotImplementedError guard)
            from . import gcoverlay as GC
            return GC.gc_overlay(a, b, op)
        out = _union_fold(flat)
        return out[0] if len(out) == 1 else Geom(MULTIPOLYGON, parts=out)
    if b.type_id == MULTIPOLYGON and op == "difference":
        # a \ (p1 ∪ p2 ∪ …) = ((a \ p1) \ p2) \ … — fold over b's parts
        acc = a
        for part in b.parts:
            acc = overlay(acc, part, "difference")
            if acc is None or acc.is_empty:
                return Geom(GEOMETRYCOLLECTION)
        return acc
    if a.type_id == MULTIPOLYGON:
        outs = [overlay(p, b, op) for p in a.parts]
        outs = [o for o in outs if o is not None and not o.is_empty]
        if op in ("intersection", "difference"):
            if not outs:
                return Geom(GEOMETRYCOLLECTION)
            return outs[0] if len(outs) == 1 else Geom(MULTIPOLYGON, parts=[
                q for o in outs for q in (o.parts if o.type_id == MULTIPOLYGON else [o])])
    if b.type_id == MULTIPOLYGON and op == "intersection":
        return overlay(b, a, op)
    if a.type_id != POLYGON or b.type_id != POLYGON:
        # non-POLYGON operand reached the general path (e.g. a GC):
        # per-dimension dispatch (r5 — replaces the guard)
        from . import gcoverlay as GC
        return GC.gc_overlay(a, b, op)

    if not P.intersects(a, b):
        if op == "intersection":
            return Geom(GEOMETRYCOLLECTION)
        if op == "difference":
            return a
        return Geom(MULTIPOLYGON, parts=[a, b])  # union of disjoint
    if P.covers(b, a):
        if op == "intersection":
            return a
        if op == "difference":
            return Geom(GEOMETRYCOLLECTION)
        return b if op == "union" else None
    if P.covers(a, b):
        if op == "intersection":
            return b
        if op == "union":
            return a
        # difference with a fully-interior hole: attach b's shell as a hole
        return Geom(POLYGON, rings=[a.rings[0]] + [b.rings[0]] + a.rings[1:])

    sa, sb = _shell(a), _shell(b)
    if sa is None or sb is None:
        return Geom(GEOMETRYCOLLECTION)
    extent = max(abs(v) for v in (a.bounds() + b.bounds())) or 1.0
    rings = None
    for attempt in range(3):
        try:
            shift = 0.0 if attempt == 0 else extent * 1e-9 * attempt
            sb_try = sb + np.array([shift, shift * 0.7]) if shift else sb
            rings = _gh(sa, sb_try, op)
            break
        except _Degenerate:
            continue
        except _NoIntersections:
            # perturbation removed all crossings: fall back to covers logic
            break
    if rings is None or not rings:
        # could not resolve: conservative fallbacks
        if op == "intersection":
            from . import construct as C
            try:
                return C.intersection(a, b)
            except NotImplementedError:
                return Geom(GEOMETRYCOLLECTION)
        return a if op == "difference" else Geom(MULTIPOLYGON, parts=[a, b])
    polys = [Geom(POLYGON, rings=[r]) for r in rings if abs(M.ring_area(r)) > 1e-18]
    # re-attach subject holes that survive inside a result shell
    holes = a.rings[1:] + (b.rings[1:] if op != "difference" else [])
    for h in holes:
        for ppoly in polys:
            hc = Geom(POLYGON, rings=[h])
            if P.covers(ppoly, hc):
                ppoly.rings.append(h)
                break
    if not polys:
        return Geom(GEOMETRYCOLLECTION)
    return polys[0] if len(polys) == 1 else Geom(MULTIPOLYGON, parts=polys)
