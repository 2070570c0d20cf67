"""Property tests: batch WKB kernels == scalar kernels, bit-for-bit
semantics (kernel.batchwkb vs kernel.measure / kernel.predicates)."""

import math
import random

import numpy as np
import pytest

from spark_geo.kernel import batchwkb as BW
from spark_geo.kernel import measure as M
from spark_geo.kernel import predicates as P
from spark_geo.kernel import wkb as W
from spark_geo.kernel.wkt import from_wkt


def _rand_geom(rng, kind=None):
    kind = kind or rng.choice(
        ["point", "line", "poly", "holepoly", "mpoint", "mline",
         "mpoly", "emptypt"])
    cx, cy = rng.uniform(-50, 50), rng.uniform(-50, 50)
    if kind == "point":
        return from_wkt(f"POINT({cx} {cy})")
    if kind == "emptypt":
        return from_wkt("POINT EMPTY")
    if kind == "line":
        pts = ",".join(f"{cx + rng.uniform(-10, 10)} "
                       f"{cy + rng.uniform(-10, 10)}"
                       for _ in range(rng.randint(2, 6)))
        return from_wkt(f"LINESTRING({pts})")
    if kind in ("poly", "holepoly"):
        r = rng.uniform(2, 12)
        k = rng.randint(3, 8)
        ang = [2 * math.pi * i / k for i in range(k)]
        ring = [(cx + r * math.cos(a), cy + r * math.sin(a)) for a in ang]
        ring.append(ring[0])
        ext = ",".join(f"{x} {y}" for x, y in ring)
        if kind == "poly":
            return from_wkt(f"POLYGON(({ext}))")
        hr = r * 0.3
        hring = [(cx + hr * math.cos(a), cy + hr * math.sin(a))
                 for a in reversed(ang)]
        hring.append(hring[0])
        hole = ",".join(f"{x} {y}" for x, y in hring)
        return from_wkt(f"POLYGON(({ext}),({hole}))")
    if kind == "mpoint":
        pts = ",".join(f"({cx + rng.uniform(-8, 8)} "
                       f"{cy + rng.uniform(-8, 8)})"
                       for _ in range(rng.randint(1, 4)))
        return from_wkt(f"MULTIPOINT({pts})")
    if kind == "mline":
        parts = []
        for _ in range(rng.randint(1, 3)):
            pts = ",".join(f"{cx + rng.uniform(-10, 10)} "
                           f"{cy + rng.uniform(-10, 10)}"
                           for _ in range(rng.randint(2, 5)))
            parts.append(f"({pts})")
        return from_wkt(f"MULTILINESTRING({','.join(parts)})")
    if kind == "mpoly":
        parts = []
        for j in range(rng.randint(1, 3)):
            ox, oy = cx + j * 30, cy
            r = rng.uniform(2, 8)
            k = rng.randint(3, 6)
            ring = [(ox + r * math.cos(2 * math.pi * i / k),
                     oy + r * math.sin(2 * math.pi * i / k))
                    for i in range(k)]
            ring.append(ring[0])
            parts.append("((" + ",".join(f"{x} {y}" for x, y in ring)
                         + "))")
        return from_wkt(f"MULTIPOLYGON({','.join(parts)})")
    raise AssertionError(kind)


def _col(rng, n, with_null=True):
    out = []
    for _ in range(n):
        if with_null and rng.random() < 0.05:
            out.append(None)
        else:
            out.append(W.dumps(_rand_geom(rng)))
    return out


def test_batch_area_length_bounds_match_scalar():
    rng = random.Random(7)
    col = _col(rng, 300)
    geoms = [None if b is None else W.loads(b) for b in col]
    a = BW.batch_area(col)
    ln = BW.batch_length(col)
    bd = BW.batch_bounds(col)
    for i, g in enumerate(geoms):
        sa = M.area(g)
        sl = M.length(g)
        assert (np.isnan(a[i]) and np.isnan(sa)) or \
            a[i] == pytest.approx(sa, abs=1e-9), i
        assert (np.isnan(ln[i]) and np.isnan(sl)) or \
            ln[i] == pytest.approx(sl, abs=1e-9), i
        sb = (np.nan,) * 4 if g is None else g.bounds()
        for j in range(4):
            assert (np.isnan(bd[i, j]) and np.isnan(sb[j])) or \
                bd[i, j] == pytest.approx(sb[j], abs=1e-9), (i, j)


def test_pair_intersects_matches_scalar():
    rng = random.Random(11)
    acol = _col(rng, 400)
    bcol = _col(rng, 400)
    geoms_a = [None if b is None else W.loads(b) for b in acol]
    geoms_b = [None if b is None else W.loads(b) for b in bcol]
    got = BW.pair_intersects(acol, bcol)
    for i in range(len(acol)):
        want = P.intersects(geoms_a[i], geoms_b[i])
        assert bool(got[i]) == want, \
            (i, geoms_a[i] and geoms_a[i].type_id,
             geoms_b[i] and geoms_b[i].type_id)


def test_pair_distance_matches_scalar():
    rng = random.Random(13)
    acol = _col(rng, 300)
    bcol = _col(rng, 300)
    geoms_a = [None if b is None else W.loads(b) for b in acol]
    geoms_b = [None if b is None else W.loads(b) for b in bcol]
    got = BW.pair_distance(acol, bcol)
    for i in range(len(acol)):
        want = M.distance(geoms_a[i], geoms_b[i])
        if np.isnan(want):
            assert np.isnan(got[i]), i
        else:
            assert got[i] == pytest.approx(want, abs=1e-9), i


def test_pair_distance_touching_and_contained():
    # deterministic exact cases
    a = [W.dumps(from_wkt("POLYGON((0 0,10 0,10 10,0 10,0 0))"))] * 4
    b = [W.dumps(from_wkt("POINT(5 5)")),            # inside -> 0
         W.dumps(from_wkt("POINT(10 5)")),           # on boundary -> 0
         W.dumps(from_wkt("POINT(13 10)")),          # outside -> 3
         W.dumps(from_wkt("LINESTRING(12 0,12 10)"))]  # parallel -> 2
    d = BW.pair_distance(a, b)
    assert d == pytest.approx([0.0, 0.0, 3.0, 2.0], abs=1e-9)
    # hole: point in the hole is OUTSIDE the polygon
    hp = W.dumps(from_wkt(
        "POLYGON((0 0,10 0,10 10,0 10,0 0),(4 4,4 6,6 6,6 4,4 4))"))
    d2 = BW.pair_distance([hp], [W.dumps(from_wkt("POINT(5 5)"))])
    assert d2[0] == pytest.approx(1.0, abs=1e-9)
    assert not BW.pair_intersects(
        [hp], [W.dumps(from_wkt("POINT(5 5)"))])[0]


def test_fallback_rows_gc_and_z():
    # GEOMETRYCOLLECTION and Z rows take the scalar path, same result
    gc = from_wkt("GEOMETRYCOLLECTION(POLYGON((0 0,4 0,4 4,0 4,0 0)),"
                  "LINESTRING(10 0,14 0))")
    z = from_wkt("LINESTRING Z(0 0 1,3 4 2)")
    col = [W.dumps(gc), W.dumps_ext(z, output_dimension=3)]
    a = BW.batch_area(col)
    ln = BW.batch_length(col)
    assert a[0] == pytest.approx(16.0)
    assert ln[0] == pytest.approx(4.0 + 16.0)  # perimeter + line
    assert ln[1] == pytest.approx(5.0)
    got = BW.pair_intersects(
        [W.dumps(gc)], [W.dumps(from_wkt("POINT(2 2)"))])
    assert bool(got[0]) is True


def test_decode_runs_rejects_malformed():
    col = [b"", b"\x01\x02\x00\x00", b"\x00" * 40,
           W.dumps(from_wkt("POINT(1 2)"))]
    R = BW.decode_runs(col)
    assert list(R.ok) == [False, False, False, True]
    # malformed rows -> scalar fallback -> NaN area, no crash
    a = BW.batch_area(col)
    assert np.isnan(a[0]) and np.isnan(a[1]) and np.isnan(a[2])
    assert a[3] == 0.0


def test_batch_header_matches_scalar():
    rng = random.Random(77)
    col = _col(rng, 400)
    # exotic encodings the header parse must classify or reject
    from spark_geo.kernel.geom import Geom
    pz = Geom(0, coords=np.array([[1.0, 2.0]]), has_z=True,
              zs=np.array([5.0]))
    col += [W.dumps_ext(pz, output_dimension=3),       # ISO Z
            W.dumps_ext(from_wkt("POINT(3 4)"), byte_order=0),  # XDR
            b"\x01\x63",                               # malformed
            b"\x01"]                                   # truncated
    g_srid = from_wkt("POINT(7 8)")
    g_srid.srid = 4326
    col.append(W.dumps_ext(g_srid, include_srid=True))  # EWKB SRID
    lat, z, cont, ok = BW.batch_header(col)
    from spark_geo.kernel import unary as U
    for i, b in enumerate(col):
        try:
            g = None if b is None else W.loads(bytes(b))
        except Exception:
            g = None
        if ok[i]:
            assert lat[i] == (-1 if g is None else g.type_id), i
            if not cont[i]:
                assert bool(z[i]) == U.has_z(g), i
        else:
            assert g is None or len(b) < 5 or b[0] not in (0, 1), i


def test_batch_is_empty_matches_scalar():
    rng = random.Random(78)
    col = _col(rng, 400)
    col += [W.dumps(from_wkt("MULTIPOLYGON EMPTY")),
            W.dumps(from_wkt("LINESTRING EMPTY")),
            W.dumps(from_wkt("POINT EMPTY")), None]
    empty, ok = BW.batch_is_empty(col)
    for i, b in enumerate(col):
        if not ok[i]:
            continue
        g = W.loads(bytes(b))
        assert bool(empty[i]) == g.is_empty, i


def test_batch_header_truncated_body_not_ok():
    """ADVICE r5: a valid 5-byte header with a truncated/absent body
    must NOT be marked ok — the scalar fallback maps such rows to None
    (on_invalid='ignore' semantics), so header-only accessors must not
    answer from the header."""
    cases = [
        b"\x01\x01\x00\x00\x00",               # POINT, no coordinates
        b"\x01\x01\x00\x00\x00" + b"\x00" * 8,  # POINT, one double only
        b"\x01\x02\x00\x00\x00",               # LINESTRING, no count
        b"\x01\x03\x00\x00\x00\xff",           # POLYGON, partial count
        b"\x01\xe9\x03\x00\x00" + b"\x00" * 16,  # ISO Z POINT, 2 doubles
        b"\x01\x01\x00\x00\x20\x10\x0e\x00\x00",  # EWKB SRID, no coords
    ]
    lat, z, cont, ok = BW.batch_header(cases)
    assert not ok.any()
    # and the minimal VALID encodings stay ok
    good = [W.dumps(from_wkt("POINT(1 2)")),
            W.dumps(from_wkt("LINESTRING EMPTY"))]
    _, _, _, ok2 = BW.batch_header(good)
    assert ok2.all()


_SHORT_BODIES = [
    b"\x01\x02\x00\x00\x00\x0a\x00\x00\x00",      # LINESTRING, 10 pts, no coords
    b"\x00\x00\x00\x00\x02\x00\x00\x00\x0a",      # same, big-endian
    b"\x01\x02\x00\x00\x00\x02\x00\x00\x00" + b"\x00" * 24,  # 1.5 of 2 pts
    b"\x01\x04\x00\x00\x00\x02\x00\x00\x00"       # MULTIPOINT, 2 claimed,
    + W.dumps(from_wkt("POINT(1 2)")),                  # 1 present
    b"\x00\x00\x00\x00\x04\x00\x00\x00\x01",      # MULTIPOINT, big-endian
]


def test_batch_header_declared_size():
    """A LINESTRING/MULTIPOINT whose declared count needs more bytes than
    the row holds is not ok (the scalar decode rejects it too); complete
    encodings in every byte order / SRID / Z variant stay ok."""
    for b in _SHORT_BODIES:
        with pytest.raises(Exception):
            W.loads(b)
    _, _, _, ok = BW.batch_header(_SHORT_BODIES)
    assert not ok.any()
    from spark_geo.kernel.geom import Geom
    ls = from_wkt("LINESTRING(0 0,1 1,2 3)")
    ls.srid = 4326
    mp = from_wkt("MULTIPOINT(0 0,1 1)")
    mp.srid = 3857
    lz = Geom(1, coords=np.array([[0.0, 0.0], [1.0, 1.0]]), has_z=True,
              zs=np.array([5.0, 6.0]))
    good = [W.dumps_ext(ls, include_srid=True),
            W.dumps_ext(ls, byte_order=0),
            W.dumps_ext(mp, include_srid=True),
            W.dumps_ext(mp, byte_order=0),
            W.dumps_ext(lz, output_dimension=3),
            W.dumps(from_wkt("MULTIPOINT EMPTY"))]
    lat, _, _, ok = BW.batch_header(good)
    assert ok.all()
    assert [int(x) for x in lat] == [W.loads(b).type_id for b in good]


def test_batch_is_empty_nan_x_finite_y():
    """ADVICE r5: loads' empty-point rule is BOTH coords NaN; a point
    with x=NaN,y=finite is non-empty (poisoned coordinate)."""
    from spark_geo.kernel.geom import Geom
    nanpt = W.dumps(Geom(0, coords=np.array([[float("nan"), 1.0]])))
    both = W.dumps(from_wkt("POINT EMPTY"))
    norm = W.dumps(from_wkt("POINT(1 2)"))
    empty, ok = BW.batch_is_empty([nanpt, both, norm])
    for i, b in enumerate([nanpt, both, norm]):
        if ok[i]:
            assert bool(empty[i]) == W.loads(b).is_empty, i


def test_batch_pair_kernels_nan_x_finite_y():
    """The is_empty rule change must not alter the pair-kernel
    PREDICATE answers for NaN-poisoned coordinates (both paths:
    False).  Known, pre-existing divergence left as-is: pair_distance
    reports no-distance as NaN for such rows while the scalar kernel
    reports inf — neither is a finite answer and the poisoned-input
    case is outside the reference's domain."""
    from spark_geo.kernel.geom import Geom
    nanpt = W.dumps(Geom(0, coords=np.array([[float("nan"), 1.0]])))
    others = [W.dumps(from_wkt("POINT(1 2)")),
              W.dumps(from_wkt("LINESTRING(0 0, 2 2)")),
              W.dumps(from_wkt("POLYGON((0 0,3 0,3 3,0 3,0 0))")),
              nanpt]
    a = [nanpt] * len(others)
    got_i = BW.pair_intersects(a, others)
    got_d = BW.pair_distance(a, others)
    for i, b in enumerate(others):
        ga, gb = W.loads(nanpt), W.loads(bytes(b))
        assert bool(got_i[i]) == P.intersects(ga, gb), i
        assert not np.isfinite(got_d[i]), i  # never a finite distance


# -- r6 batch unary constructive kernels ---------------------------------

def _scalar_wkb(fn, b):
    if b is None:
        return None
    try:
        g = W.loads(bytes(b))
    except Exception:
        g = None
    r = fn(g)
    return None if r is None else W.dumps(r)


_CONSTRUCTIVE_CASES = None


def _constructive_col():
    global _CONSTRUCTIVE_CASES
    if _CONSTRUCTIVE_CASES is not None:
        return _CONSTRUCTIVE_CASES
    rng = random.Random(123)
    col = _col(rng, 500)
    from spark_geo.kernel.geom import Geom
    pz = Geom(0, coords=np.array([[1.0, 2.0]]), has_z=True,
              zs=np.array([5.0]))
    col += [
        None,
        b"\x01\x01\x00\x00\x00",                     # truncated point
        W.dumps_ext(pz, output_dimension=3),          # ISO Z point
        W.dumps_ext(from_wkt("POINT(3 4)"), byte_order=0),  # big-endian
        W.dumps(from_wkt("POINT EMPTY")),
        W.dumps(from_wkt("LINESTRING EMPTY")),
        W.dumps(from_wkt("MULTIPOLYGON EMPTY")),
        W.dumps(from_wkt("GEOMETRYCOLLECTION(POINT(1 1),"
                         "LINESTRING(0 0,1 1))")),
        W.dumps(from_wkt("POLYGON((0 0,4 0,4 4,0 4,0 0),"
                         "(1 1,1 2,2 2,2 1,1 1))")),
        W.dumps(from_wkt("LINESTRING(0 0,1 0,1 1,0 0)")),  # closed line
        W.dumps(from_wkt("MULTIPOINT(1 1,2 2)")),
        # degenerate polygon (zero area) -> centroid length path
        W.dumps(from_wkt("POLYGON((0 0,2 0,0 0))")),
        # vertical/horizontal lines -> degenerate envelopes
        W.dumps(from_wkt("LINESTRING(1 0,1 5)")),
        W.dumps(from_wkt("LINESTRING(0 3,7 3)")),
        W.dumps(from_wkt("MULTIPOINT(3 3,3 3)")),     # point envelope
    ]
    # larger structures: exercise the grouped-sums pairwise parity
    # beyond numpy's 8-element base case, and the vcnt>=8 mean-path
    # scalar fallback
    big_ring = ",".join(
        f"{10 * math.cos(2 * math.pi * i / 40)} "
        f"{10 * math.sin(2 * math.pi * i / 40)}" for i in range(40))
    big_line = ",".join(f"{i} {((i * 7) % 11) - 5}" for i in range(30))
    many_pts = ",".join(f"({i} {i % 5})" for i in range(12))
    first = big_ring.split(",")[0]
    col += [
        W.dumps(from_wkt(f"POLYGON(({big_ring},{first}))")),
        W.dumps(from_wkt(f"LINESTRING({big_line})")),
        W.dumps(from_wkt(f"MULTIPOINT({many_pts})")),
    ]
    _CONSTRUCTIVE_CASES = col
    return col


@pytest.mark.parametrize("batch_fn,scalar_fn", [
    (BW.batch_centroid, "centroid"),
    (BW.batch_envelope, "envelope"),
    (BW.batch_boundary, "boundary"),
    (BW.batch_reverse, "reverse"),
    (BW.batch_force_2d, "force_2d"),
])
def test_batch_constructive_matches_scalar(batch_fn, scalar_fn):
    from spark_geo.kernel import construct as C
    fn = getattr(C, scalar_fn)
    col = _constructive_col()
    got = batch_fn(col)
    assert len(got) == len(col)
    for i, b in enumerate(col):
        want = _scalar_wkb(fn, b)
        assert got[i] == want, (scalar_fn, i, got[i], want)


_MALFORMED = {
    "null": None,
    "bytearray": bytearray(b"\x01\x01\x00\x00\x00\x00\x00"),
    "truncated_header": b"\x01\x02\x00",
    "truncated_coords": b"\x01\x02\x00\x00\x00\x03\x00\x00\x00" + b"\0" * 20,
    "unknown_type": b"\x01\x63\x00\x00\x00" + b"\0" * 16,
    "huge_count": b"\x01\x06\x00\x00\x00\xff\xff\xff\xff" + b"\0" * 16,
}


@pytest.mark.parametrize("raw", list(_MALFORMED.values()), ids=list(_MALFORMED))
def test_malformed_rows_answer_none(raw):
    """One tolerant loader behind the column UDFs and the batch kernels:
    a malformed row answers None / False / NaN and never raises."""
    import pandas as pd
    from spark_geo import functions as SG
    from spark_geo.kernel.geom import Geom
    assert W.loads_safe(raw) is None
    # column UDF body (scalar path) and a batch column kernel
    assert SG.st_num_coordinates.func(pd.Series([raw], dtype=object)).isna().all()
    assert np.isnan(BW.batch_area([raw])[0])
    assert not BW.pair_intersects([raw], [raw])[0]
    # many-vs-one refine kernels
    R = BW.decode_canonical([raw])
    box = Geom.box(-1, -1, 1, 1)
    for pred in ("intersects", "within", "touches"):
        assert not BW.batch_predicate_one(R, np.arange(1), box, pred)[0]
    assert np.isnan(BW.batch_distance_one(R, np.arange(1), box)[0])
