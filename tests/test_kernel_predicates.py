"""Predicate/measurement kernel tests.

Ports the reference's documented truth tables: the canonical
point_polygon_testdata — points (i, i) i=0..5 vs box(2,2,4,4)
(reference pygeos/tests/common.py:9-12) — plus the None/empty rules
(predicates.py:156-158, measurement.py:35-70)."""

import numpy as np
import pytest

from spark_geo.kernel import batchwkb as BW
from spark_geo.kernel import measure as M
from spark_geo.kernel import predicates as P
from spark_geo.kernel import wkb as W
from spark_geo.kernel import wkt
from spark_geo.kernel.geom import GEOMETRYCOLLECTION, LINESTRING, POINT, Geom

BOX = Geom.box(2, 2, 4, 4)
POINTS = [Geom.point(i, i) for i in range(6)]


def test_point_polygon_contains():
    # box(2,2,4,4) contains point (3,3) only: (2,2)/(4,4) on boundary
    got = [P.contains(BOX, p) for p in POINTS]
    assert got == [False, False, False, True, False, False]


def test_point_polygon_intersects():
    # boundary points DO intersect
    got = [P.intersects(BOX, p) for p in POINTS]
    assert got == [False, False, True, True, True, False]


def test_point_polygon_covers():
    got = [P.covers(BOX, p) for p in POINTS]
    assert got == [False, False, True, True, True, False]


def test_within_is_contains_swapped():
    assert P.within(Geom.point(3, 3), BOX)
    assert not P.within(Geom.point(2, 2), BOX)


def test_contains_properly():
    assert P.contains_properly(BOX, Geom.point(3, 3))
    assert not P.contains_properly(BOX, Geom.point(2, 2))
    inner = Geom.box(2.5, 2.5, 3.5, 3.5)
    shared_edge = Geom.box(2, 2.5, 3, 3.5)
    assert P.contains_properly(BOX, inner)
    assert P.contains(BOX, shared_edge)
    assert not P.contains_properly(BOX, shared_edge)


def test_none_rule_everywhere():
    # any None operand -> False (reference predicates.py:156-158)
    for fn in (P.intersects, P.contains, P.within, P.touches, P.overlaps,
               P.crosses, P.covers, P.covered_by, P.equals):
        assert fn(None, BOX) is False
        assert fn(BOX, None) is False
    assert P.disjoint(None, BOX) is False  # None never disjoint
    assert P.dwithin(None, BOX, 10.0) is False


def test_touches():
    assert P.touches(BOX, Geom.point(2, 2))
    assert P.touches(BOX, Geom.box(4, 2, 6, 4))  # shared edge
    assert not P.touches(BOX, Geom.point(3, 3))
    assert not P.touches(BOX, Geom.box(3, 3, 5, 5))  # overlapping


def test_overlaps():
    assert P.overlaps(BOX, Geom.box(3, 3, 5, 5))
    assert not P.overlaps(BOX, Geom.box(4, 4, 6, 6))  # corner touch
    assert not P.overlaps(BOX, Geom.box(2.5, 2.5, 3.5, 3.5))  # contained
    assert not P.overlaps(BOX, Geom.point(3, 3))  # dim mismatch


def test_crosses():
    line = Geom.linestring([(0, 3), (6, 3)])
    assert P.crosses(line, BOX)
    inside_line = Geom.linestring([(2.5, 3), (3.5, 3)])
    assert not P.crosses(inside_line, BOX)
    l1 = Geom.linestring([(0, 0), (2, 2)])
    l2 = Geom.linestring([(0, 2), (2, 0)])
    assert P.crosses(l1, l2)
    collinear = Geom.linestring([(1, 1), (3, 3)])
    assert not P.crosses(l1, collinear)


def test_equals():
    assert P.equals(BOX, Geom.box(2, 2, 4, 4, ccw=False))
    # different vertex order/orientation, same shape
    rot = wkt.from_wkt("POLYGON ((4 2, 4 4, 2 4, 2 2, 4 2))")
    assert P.equals(BOX, rot)
    assert not P.equals(BOX, Geom.box(2, 2, 4, 4.5))


def test_equals_exact():
    assert P.equals_exact(Geom.point(1, 1), Geom.point(1, 1))
    assert not P.equals_exact(Geom.point(1, 1), Geom.point(1, 1.05))
    assert P.equals_exact(Geom.point(1, 1), Geom.point(1, 1.05), tolerance=0.1)


def test_dwithin():
    assert P.dwithin(Geom.point(0, 0), Geom.point(3, 4), 5.0)
    assert not P.dwithin(Geom.point(0, 0), Geom.point(3, 4), 4.999)
    assert P.dwithin(Geom.point(0.5, 0.5), Geom.point(0, 0), 1.0)


def test_polygon_with_hole():
    poly = wkt.from_wkt(
        "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))")
    assert P.contains(poly, Geom.point(1, 1))
    assert not P.contains(poly, Geom.point(3, 3))  # inside the hole
    assert P.touches(poly, Geom.point(2, 2))  # on hole boundary
    assert not P.intersects(poly, Geom.point(3, 3))


def test_line_predicates():
    seg = Geom.linestring([(0, 0), (1, 1)])
    assert P.intersects(seg, Geom.point(0.5, 0.5))
    assert P.touches(seg, Geom.point(0, 0))  # endpoint = boundary
    assert not P.touches(seg, Geom.point(0.5, 0.5))  # interior
    assert P.covers(seg, Geom.linestring([(0.25, 0.25), (0.5, 0.5)]))


# -- measurement --------------------------------------------------------

def test_area():
    assert M.area(BOX) == 4.0
    hole = wkt.from_wkt(
        "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))")
    assert M.area(hole) == 96.0
    assert M.area(Geom.point(1, 1)) == 0.0
    assert np.isnan(M.area(None))
    assert M.area(wkt.from_wkt("POLYGON EMPTY")) == 0.0


def test_length():
    assert M.length(wkt.from_wkt("LINESTRING (0 0, 1 0, 1 1)")) == 2.0
    assert M.length(BOX) == 8.0
    assert np.isnan(M.length(None))


def test_bounds():
    assert wkt.from_wkt("LINESTRING (0 0, 1 0, 1 1)").bounds() == (0, 0, 1, 1)
    assert all(np.isnan(v) for v in wkt.from_wkt("POINT EMPTY").bounds())


def test_distance():
    assert M.distance(Geom.point(0, 0), Geom.point(3, 4)) == 5.0
    assert M.distance(Geom.point(3, 3), BOX) == 0.0  # inside
    assert M.distance(Geom.point(5, 3), BOX) == 1.0
    assert np.isnan(M.distance(None, BOX))
    assert np.isnan(M.distance(wkt.from_wkt("POINT EMPTY"), BOX))
    l1 = Geom.linestring([(0, 0), (0, 1)])
    l2 = Geom.linestring([(2, 0), (2, 1)])
    assert M.distance(l1, l2) == 2.0


def test_points_to_geom_dist_vectorized():
    xs = np.array([3.0, 5.0, 0.0])
    ys = np.array([3.0, 3.0, 0.0])
    d = M.points_to_geom_dist(xs, ys, BOX)
    np.testing.assert_allclose(d, [0.0, 1.0, np.hypot(2, 2)])


def test_hausdorff():
    a = Geom.linestring([(0, 0), (1, 0)])
    b = Geom.linestring([(0, 1), (1, 1)])
    assert M.hausdorff_distance(a, b) == 1.0
    assert np.isnan(M.hausdorff_distance(None, b))


def test_covers_concave_exact():
    """Exit/re-enter across a concave pocket between vertex samples is
    caught: segments split at every boundary intersection, each piece
    midpoint tested (reference GEOS DE-9IM exactness for covers)."""
    import numpy as np
    from spark_geo.kernel.geom import Geom
    from spark_geo.kernel import predicates as P
    U = Geom(3, rings=[np.array(
        [[0, 0], [10, 0], [10, 10], [7, 10], [7, 3],
         [3, 3], [3, 10], [0, 10], [0, 0]], float)])
    # crosses the notch: not covered
    assert not P.covers(U, Geom.linestring(np.array([[1., 8.], [9., 8.]])))
    # below the notch: covered
    assert P.covers(U, Geom.linestring(np.array([[1., 1.], [9., 1.]])))
    # collinear run on the notch bottom: boundary counts as covered
    assert P.covers(U, Geom.linestring(np.array([[2., 3.], [8., 3.]])))
    # boundary run then into the notch interior: not covered
    assert not P.covers(U, Geom.linestring(
        np.array([[3., 3.], [5., 3.], [5., 8.]])))
    # wall of the notch itself: covered (on boundary)
    assert P.covers(U, Geom.linestring(np.array([[7., 3.], [7., 8.]])))
    # boxes
    assert P.covers(U, Geom.box(0.5, 0.5, 2.5, 9.0))
    assert not P.covers(U, Geom.box(1, 6, 9, 9))


def test_covers_hole_swallowed_by_b():
    """ADVICE r2: a hole of `a` strictly inside b's interior must break
    covers(a, b) even when b's boundary never enters the hole."""
    donut = wkt.from_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (4 4, 6 4, 6 6, 4 6, 4 4))")
    big_b = wkt.from_wkt("POLYGON ((1 1, 9 1, 9 9, 1 9, 1 1))")
    assert not P.covers(donut, big_b)
    assert not P.contains(donut, big_b)
    assert not P.within(big_b, donut)
    assert not P.covered_by(big_b, donut)
    # b avoiding the hole is still covered
    side_b = wkt.from_wkt("POLYGON ((1 1, 3 1, 3 9, 1 9, 1 1))")
    assert P.covers(donut, side_b)
    # b exactly filling the hole touches only boundary: covered is False
    # (hole interior is outside a), and equals must stay False
    fill_b = wkt.from_wkt("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")
    assert not P.covers(donut, fill_b)
    assert not P.equals(donut, big_b)


def test_covers_island_in_hole_multipolygon():
    """An island part of a multipolygon legitimately filling a hole must
    not be reported as uncovered."""
    mp = wkt.from_wkt(
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 8 2, 8 8, 2 8, 2 2)), ((3 3, 7 3, 7 7, 3 7, 3 3)))")
    island_inner = wkt.from_wkt("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")
    assert P.covers(mp, island_inner)
    # but the gap annulus between hole and island is NOT covered
    gap_probe = wkt.from_wkt(
        "POLYGON ((2.2 2.2, 7.8 2.2, 7.8 7.8, 2.2 7.8, 2.2 2.2))")
    assert not P.covers(mp, gap_probe)


def test_covers_island_partially_filling_hole():
    """ADVICE r3 high: an island PARTIALLY filling the hole must not
    absorb the hole probe — the uncovered annulus around the island
    still breaks covers when b spans it."""
    a = wkt.from_wkt(
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 8 2, 8 8, 2 8, 2 2)), ((4 4, 6 4, 6 6, 4 6, 4 4)))")
    b = wkt.from_wkt("POLYGON ((1 1, 9 1, 9 9, 1 9, 1 1))")
    assert not P.covers(a, b)
    assert not P.contains(a, b)
    # island exactly filling the hole keeps coverage intact
    a_full = wkt.from_wkt(
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 8 2, 8 8, 2 8, 2 2)), ((2 2, 8 2, 8 8, 2 8, 2 2)))")
    assert P.covers(a_full, b)
    # b entirely outside the hole is unaffected by the island
    b_side = wkt.from_wkt("POLYGON ((0.2 0.2, 1.8 0.2, 1.8 1.8,"
                          " 0.2 1.8, 0.2 0.2))")
    assert P.covers(a, b_side)
    # island with its OWN hole inside the big hole: that nested void
    # is outside a, so a b spanning it is not covered
    a_nested = wkt.from_wkt(
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 8 2, 8 8, 2 8, 2 2)),"
        " ((2 2, 8 2, 8 8, 2 8, 2 2), (4 4, 6 4, 6 6, 4 6, 4 4)))")
    assert not P.covers(a_nested, b)


def test_is_valid_reason_multipolygon_with_empty_part():
    """ADVICE r2: an empty part must not misalign the shell/part pairing."""
    from spark_geo.kernel import unary as U
    from spark_geo.kernel.geom import Geom, MULTIPOLYGON, POLYGON
    donut = wkt.from_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 8 2, 8 8, 2 8, 2 2))")
    island = wkt.from_wkt("POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))")
    empty_poly = Geom(POLYGON, rings=[])
    mp = Geom(MULTIPOLYGON, parts=[empty_poly, donut, island])
    assert U.is_valid_reason(mp) == "Valid Geometry"
    # genuinely nested shells still detected with an empty part in front
    bad = Geom(MULTIPOLYGON, parts=[
        empty_poly,
        wkt.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
        island])
    assert U.is_valid_reason(bad) != "Valid Geometry"


def _exotic_wkbs(a, b):
    """Left rows decode_runs cannot read as they are, built from two
    geometries: big-endian, EWKB SRID, ISO Z, a GEOMETRYCOLLECTION, a
    truncated row, POINT EMPTY and NULL."""
    with_srid = W.loads(W.dumps(a))
    with_srid.srid = 4326
    v = M.vertices(b)
    z = Geom(LINESTRING, v.copy(), has_z=True, zs=np.full(len(v), 2.5))
    return [W.dumps_ext(a, byte_order=0), W.dumps(with_srid), W.dumps(z),
            W.dumps(Geom(GEOMETRYCOLLECTION, parts=[a, b])),
            W.dumps(b)[:-3], W.dumps(Geom(POINT)), None]


def _left_rows(lefts, fallback):
    """The lefts as WKB (round trip) plus the exotic rows, the Runs the
    refine builds from them, and the Geom each row means to the scalar
    kernels."""
    real = [x for x in lefts if x is not None] or [fallback]
    wkbs = [W.dumps(x) for x in lefts] + _exotic_wkbs(real[0], real[-1])
    return BW.decode_canonical(wkbs), [W.loads_safe(w) for w in wkbs]


def test_batch_predicate_one_matches_scalar():
    """Property: the many-vs-one batch kernel (cell-join refine path)
    agrees with the exact scalar predicates on random mixed geometries
    (points / lines / convex polys / holed polys), including None and
    the encodings decode_runs cannot read directly."""
    rng = np.random.default_rng(7)

    def rand_geom(kind, cx, cy, s):
        if kind == 0:
            return Geom.point(cx, cy)
        if kind == 1:
            n = int(rng.integers(3, 6))
            pts = np.column_stack([cx + rng.uniform(-s, s, n),
                                   cy + rng.uniform(-s, s, n)])
            return Geom.linestring(pts)
        if kind == 2:
            n = int(rng.integers(4, 8))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            r = rng.uniform(0.3 * s, s, n)
            pts = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
            return Geom.polygon(np.vstack([pts, pts[:1]]))
        ang = np.linspace(0, 2 * np.pi, 9)
        outer = np.column_stack([cx + s * np.cos(ang), cy + s * np.sin(ang)])
        inner = np.column_stack([cx + 0.4 * s * np.cos(ang[::-1]),
                                 cy + 0.4 * s * np.sin(ang[::-1])])
        return Geom.polygon(outer, holes=[inner])

    for rep in range(60):
        nleft = int(rng.integers(1, 10))
        lefts = [rand_geom(int(rng.integers(0, 4)), rng.uniform(-5, 5),
                           rng.uniform(-5, 5), rng.uniform(0.3, 2.0))
                 for _ in range(nleft)]
        if rng.random() < 0.2:
            lefts[0] = None
        g = rand_geom(int(rng.integers(0, 4)), rng.uniform(-5, 5),
                      rng.uniform(-5, 5), rng.uniform(0.3, 2.5))
        R, geoms = _left_rows(lefts, g)
        sel = np.arange(len(geoms))
        scalar = {"intersects": P.intersects, "dwithin": P.dwithin,
                  "contains": P.contains, "within": P.within,
                  "covers": P.covers, "covered_by": P.covered_by,
                  "contains_properly": P.contains_properly,
                  "touches": P.touches, "crosses": P.crosses,
                  "overlaps": P.overlaps, "equals": P.equals}
        for pred, dist in [("intersects", None), ("dwithin", 0.7),
                           ("dwithin", 0.05), ("contains", None),
                           ("within", None), ("covers", None),
                           ("covered_by", None),
                           ("contains_properly", None),
                           ("touches", None), ("crosses", None),
                           ("overlaps", None), ("equals", None)]:
            got = BW.batch_predicate_one(R, sel, g, pred, dist)
            for i, a in enumerate(geoms):
                if a is None:
                    want = False
                elif pred == "dwithin":
                    want = P.dwithin(a, g, dist)
                else:
                    want = scalar[pred](a, g)
                assert bool(got[i]) == bool(want), (rep, i, pred, dist)
    # an unknown predicate has no batch path
    with pytest.raises(ValueError):
        BW.batch_predicate_one(BW.decode_runs([]), np.arange(0),
                               Geom.point(0, 0), "relate")


def test_batch_distance_one_matches_scalar():
    """Property: the vectorized many-vs-one pair distance equals the
    scalar kernel on random mixed geometries (kNN refine path),
    including None and the encodings decode_runs cannot read
    directly."""
    rng = np.random.default_rng(13)

    def rand_geom(kind, cx, cy, s):
        if kind == 0:
            return Geom.point(cx, cy)
        if kind == 1:
            n = int(rng.integers(3, 6))
            return Geom.linestring(np.column_stack(
                [cx + rng.uniform(-s, s, n), cy + rng.uniform(-s, s, n)]))
        if kind == 2:
            return Geom.box(cx - s, cy - s, cx + s, cy + s)
        ang = np.linspace(0, 2 * np.pi, 9)
        outer = np.column_stack([cx + s * np.cos(ang), cy + s * np.sin(ang)])
        inner = np.column_stack([cx + 0.4 * s * np.cos(ang[::-1]),
                                 cy + 0.4 * s * np.sin(ang[::-1])])
        return Geom.polygon(outer, holes=[inner])

    for rep in range(50):
        nleft = int(rng.integers(1, 9))
        lefts = [rand_geom(int(rng.integers(0, 4)), rng.uniform(-6, 6),
                           rng.uniform(-6, 6), rng.uniform(0.3, 2.0))
                 for _ in range(nleft)]
        if rng.random() < 0.2:
            lefts[0] = None
        g = rand_geom(int(rng.integers(0, 4)), rng.uniform(-6, 6),
                      rng.uniform(-6, 6), rng.uniform(0.3, 2.5))
        R, geoms = _left_rows(lefts, g)
        got = BW.batch_distance_one(R, np.arange(len(geoms)), g)
        for i, a in enumerate(geoms):
            want = M.distance(a, g) if a is not None else np.nan
            if np.isnan(want):
                assert np.isnan(got[i]), (rep, i)
            else:
                assert abs(got[i] - want) <= 1e-9, (rep, i, got[i], want)


def test_batch_containment_nested_boxes():
    """Deterministic containment sweep: nested / touching / crossing /
    disjoint boxes and lineal covers through the batch kernel."""
    def runs(geoms):
        return BW.decode_canonical([W.dumps(a) for a in geoms])

    lefts = [Geom.box(0, 0, 10, 10),              # contains g
             Geom.box(2, 2, 8, 8),                # equals g's interior? no: within g
             Geom.box(2, 2, 30, 30),              # crosses g
             Geom.box(50, 50, 60, 60),            # disjoint
             Geom.polygon([(0, 0), (10, 0), (10, 10), (0, 10)],
                          holes=[[(4, 4), (6, 4), (6, 6), (4, 6)]]),
             Geom.linestring([(2, 2), (8, 8)]),   # within g
             None]
    g = Geom.box(2, 2, 8, 8)
    R = runs(lefts)
    sel = np.arange(len(lefts))
    for pred, fn in [("contains", P.contains), ("within", P.within),
                     ("covers", P.covers), ("covered_by", P.covered_by),
                     ("contains_properly", P.contains_properly)]:
        got = BW.batch_predicate_one(R, sel, g, pred)
        want = [False if a is None else fn(a, g) for a in lefts]
        assert [bool(x) for x in got] == want, pred
    # the holed left (index 4) must NOT contain g (hole inside g's span)
    got_c = BW.batch_predicate_one(R, sel, g, "contains")
    assert not got_c[4]
    # lineal covers: a line covering a collinear sub-line
    l_lefts = [Geom.linestring([(0, 0), (10, 0)]),
               Geom.linestring([(0, 1), (10, 1)])]
    sub = Geom.linestring([(2, 0), (7, 0)])
    got_l = BW.batch_predicate_one(runs(l_lefts), np.arange(2), sub, "covers")
    assert bool(got_l[0]) and not bool(got_l[1])
    # a self-crossing line covers itself although its segments cross
    # properly: the crossing filter prunes only for a polygonal big side
    loop = Geom.linestring([(0, 0), (4, 4), (4, 0), (0, 4)])
    for pred in ("contains", "covers", "within", "covered_by"):
        assert BW.batch_predicate_one(runs([loop]), np.arange(1), loop,
                                      pred)[0], pred
    # point lefts go through the undecided->scalar path
    p_lefts = [Geom.point(3, 3), Geom.point(9, 9)]
    got_p = BW.batch_predicate_one(runs(p_lefts), np.arange(2),
                                   Geom.point(3, 3), "covers")
    assert bool(got_p[0]) and not bool(got_p[1])
