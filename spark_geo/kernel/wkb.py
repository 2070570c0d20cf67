"""WKB codec — the engine's canonical geometry serialization.

WKB is the reference's own canonical form (pygeos hashes, pickles and
round-trips scalars through WKB, reference src/pygeom.c:228-261;
io.py:185-247 to_wkb / io.py:389-425 from_wkb).  We store geometry
columns as ``BinaryType`` WKB and decode to NumPy coordinate arrays
per Arrow batch inside pandas UDFs.

Supported on read: little/big endian, ISO-WKB Z types (1000 + t) and
EWKB Z flag (0x80000000).  Written form: little-endian ISO, 2D (Z kept
when present on the Geom).

Hot path: ``encode_points`` / ``decode_points`` are fully vectorized
(no per-row Python) for the dominant point-column case — the moral
equivalent of the reference's ``PyGEOS_CoordSeq_FromBuffer`` zero-copy
ingest (reference pygeos/_geometry.pyx:60-152, src/lib.c:90-92).
"""

from __future__ import annotations

import struct

import numpy as np

from .geom import (GEOMETRYCOLLECTION, LINEARRING, LINESTRING, MULTILINESTRING,
                   MULTIPOINT, MULTIPOLYGON, POINT, POLYGON, Geom)

_WKB_POINT_LEN = 21  # 1 endian + 4 type + 16 coords
_LE_POINT_HEADER = b"\x01\x01\x00\x00\x00"

# lattice type id <-> OGC WKB type code (lattice has LINEARRING=2 which
# WKB lacks — rings serialize as linestrings)
_LATTICE_TO_OGC = {POINT: 1, LINESTRING: 2, LINEARRING: 2, POLYGON: 3,
                   MULTIPOINT: 4, MULTILINESTRING: 5, MULTIPOLYGON: 6,
                   GEOMETRYCOLLECTION: 7}
_OGC_TO_LATTICE = {1: POINT, 2: LINESTRING, 3: POLYGON, 4: MULTIPOINT,
                   5: MULTILINESTRING, 6: MULTIPOLYGON, 7: GEOMETRYCOLLECTION}

# ---------------------------------------------------------------------------
# vectorized point fast path
# ---------------------------------------------------------------------------

def encode_points(x, y):
    """Vectorized (x[i], y[i]) -> WKB POINT bytes, as an object ndarray.

    NaN coordinate pairs encode as POINT (nan nan) == POINT EMPTY
    (reference creation.py:34-41: NaN -> empty point on GEOS>=3.10;
    GEOS itself serializes POINT EMPTY as a NaN-coordinate point).
    """
    x = np.asarray(x, dtype=np.float64).copy()
    y = np.asarray(y, dtype=np.float64).copy()
    bad = np.isnan(x) | np.isnan(y)  # any-NaN coordinate -> POINT EMPTY
    x[bad] = np.nan
    y[bad] = np.nan
    n = len(x)
    buf = np.empty((n, _WKB_POINT_LEN), dtype=np.uint8)
    hdr = np.frombuffer(_LE_POINT_HEADER, dtype=np.uint8)
    buf[:, :5] = hdr
    buf[:, 5:13] = x.astype("<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = y.astype("<f8").view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    out = np.empty(n, dtype=object)
    for i in range(n):  # slicing one contiguous bytes object: cheap, no parse
        out[i] = raw[i * _WKB_POINT_LEN:(i + 1) * _WKB_POINT_LEN]
    return out


def decode_points(wkbs):
    """Vectorized WKB POINT column -> (x, y) float64 arrays.

    NULL / non-point / empty-point rows come back NaN (matching the
    reference's get_x/get_y: "Return NaN for non-point or None input",
    reference geometry.py:237-320).
    """
    n = len(wkbs)
    x = np.full(n, np.nan, dtype=np.float64)
    y = np.full(n, np.nan, dtype=np.float64)
    # fast path: every non-null row is a 21-byte LE point -> one frombuffer
    fast = True
    for b in wkbs:
        if b is not None and (len(b) != _WKB_POINT_LEN or b[:5] != _LE_POINT_HEADER):
            fast = False
            break
    if fast:
        idx = [i for i, b in enumerate(wkbs) if b is not None]
        if idx:
            cat = b"".join(wkbs[i] for i in idx)
            arr = np.frombuffer(cat, dtype=np.uint8).reshape(len(idx), _WKB_POINT_LEN)
            xs = arr[:, 5:13].copy().view("<f8").ravel()
            ys = arr[:, 13:21].copy().view("<f8").ravel()
            ii = np.asarray(idx)
            x[ii] = xs
            y[ii] = ys
        return x, y
    for i, b in enumerate(wkbs):
        if b is None:
            continue
        try:
            g = loads(bytes(b))
        except (ValueError, struct.error, KeyError):
            continue  # malformed row -> NaN (must not kill the job)
        if g is not None and g.type_id == POINT and len(g.coords):
            x[i], y[i] = g.coords[0]
    return x, y


# ---------------------------------------------------------------------------
# general encoder
# ---------------------------------------------------------------------------

def dumps(g: Geom | None) -> bytes | None:
    if g is None:
        return None
    return b"".join(_enc(g))


def _enc(g: Geom, top: bool = True):
    z = bool(g.has_z and g.zs is not None)
    wkb_type = _LATTICE_TO_OGC[g.type_id] + (1000 if z else 0)
    srid = getattr(g, "srid", 0)
    if top and srid:
        # EWKB SRID flag (reference get/set_srid, geometry.py:177-235)
        yield b"\x01"
        yield struct.pack("<I", wkb_type | 0x20000000)
        yield struct.pack("<i", srid)
    else:
        yield b"\x01"
        yield struct.pack("<I", wkb_type)
    if g.type_id == POINT:
        if g.is_empty:
            yield struct.pack("<dd", np.nan, np.nan) if not z else struct.pack("<ddd", np.nan, np.nan, np.nan)
        else:
            if z:
                yield struct.pack("<ddd", g.coords[0, 0], g.coords[0, 1], g.zs[0])
            else:
                yield struct.pack("<dd", g.coords[0, 0], g.coords[0, 1])
    elif g.type_id in (LINESTRING, LINEARRING):
        yield struct.pack("<I", len(g.coords))
        yield _pack_coords(g.coords, g.zs if z else None)
    elif g.type_id == POLYGON:
        rings = [r for r in g.rings if len(r)]
        yield struct.pack("<I", len(rings))
        for r in rings:
            yield struct.pack("<I", len(r))
            yield _pack_coords(r, None)
    else:  # multi / collection
        yield struct.pack("<I", len(g.parts))
        for p in g.parts:
            yield from _enc(p, top=False)


def _pack_coords(c, zs, bo: str = "<"):
    if zs is not None:
        arr = np.empty((len(c), 3), dtype=f"{bo}f8")
        arr[:, :2] = c
        arr[:, 2] = zs
        return arr.tobytes()
    return np.asarray(c, dtype=f"{bo}f8").tobytes()


def dumps_ext(g: Geom | None, byte_order: int = 1,
              output_dimension: int = 3,
              include_srid: bool = False) -> bytes | None:
    """to_wkb's serialization option tail (reference io.py:185-247):
    ``byte_order`` 1 = little endian (NDR, the storage default) /
    0 = big endian (XDR); ``output_dimension=2`` strips Z;
    ``include_srid`` embeds the EWKB SRID flag (ignored when the
    geometry has no SRID).  ``hex`` lives at the Spark layer (a
    formatting concern: bytes.hex())."""
    if g is None:
        return None
    bo = "<" if byte_order else ">"
    head = b"\x01" if byte_order else b"\x00"
    out: list[bytes] = []

    def enc(q: Geom, top: bool) -> None:
        z = bool(q.has_z and q.zs is not None and output_dimension >= 3)
        wkb_type = _LATTICE_TO_OGC[q.type_id] + (1000 if z else 0)
        srid = getattr(q, "srid", 0)
        out.append(head)
        if top and include_srid and srid:
            out.append(struct.pack(bo + "I", wkb_type | 0x20000000))
            out.append(struct.pack(bo + "i", srid))
        else:
            out.append(struct.pack(bo + "I", wkb_type))
        if q.type_id == POINT:
            if q.is_empty:
                vals = (np.nan,) * (3 if z else 2)
            elif z:
                vals = (q.coords[0, 0], q.coords[0, 1], q.zs[0])
            else:
                vals = (q.coords[0, 0], q.coords[0, 1])
            out.append(struct.pack(bo + "d" * len(vals), *vals))
        elif q.type_id in (LINESTRING, LINEARRING):
            out.append(struct.pack(bo + "I", len(q.coords)))
            out.append(_pack_coords(q.coords, q.zs if z else None, bo))
        elif q.type_id == POLYGON:
            rings = [r for r in q.rings if len(r)]
            out.append(struct.pack(bo + "I", len(rings)))
            for r in rings:
                out.append(struct.pack(bo + "I", len(r)))
                out.append(_pack_coords(r, None, bo))
        else:
            out.append(struct.pack(bo + "I", len(q.parts)))
            for p in q.parts:
                enc(p, top=False)

    enc(g, True)
    return b"".join(out)


# ---------------------------------------------------------------------------
# general decoder
# ---------------------------------------------------------------------------

def loads(b: bytes | None) -> Geom | None:
    """Parse WKB -> Geom; returns None for None input.

    Raises ValueError on malformed input (callers implement the
    reference's on_invalid raise/warn/ignore modes, io.py:27-29).
    """
    if b is None:
        return None
    g, _ = _dec(bytes(b), 0)
    return g


def loads_safe(b) -> Geom | None:
    """``loads`` that answers None for NULL and malformed bytes (a
    poisoned row must not kill a 10^12-row job — mirrors
    on_invalid='ignore', reference io.py:27-29)."""
    if b is None:
        return None
    try:
        return loads(b)
    except (ValueError, KeyError, IndexError, struct.error):
        return None


def _dec(b: bytes, off: int):
    if off + 5 > len(b):
        raise ValueError("WKB truncated")
    le = b[off] == 1
    fmt = "<" if le else ">"
    (raw_type,) = struct.unpack_from(fmt + "I", b, off + 1)
    off += 5
    has_z = False
    t = raw_type
    srid = 0
    if t & 0x20000000:  # EWKB SRID flag
        (srid,) = struct.unpack_from(fmt + "i", b, off)
        off += 4
        t &= ~0x20000000
    if t & 0x80000000:  # EWKB Z flag
        has_z = True
        t &= 0x0FFFFFFF
    if t >= 3000:
        t -= 3000
        has_z = True  # ZM: treat as Z (drop M)
        ndim = 4
    elif t >= 2000:
        t -= 2000
        ndim = 3  # M: drop
    elif t >= 1000:
        t -= 1000
        has_z = True
        ndim = 3
    else:
        ndim = 3 if has_z else 2
    if not 1 <= t <= 7:
        raise ValueError(f"unsupported WKB type {raw_type}")
    type_id = _OGC_TO_LATTICE[t]

    def read_coords(n):
        nonlocal off
        nbytes = n * ndim * 8
        if off + nbytes > len(b):
            raise ValueError("WKB truncated")
        arr = np.frombuffer(b, dtype=fmt + "f8", count=n * ndim, offset=off).reshape(n, ndim)
        off += nbytes
        return arr

    if type_id == POINT:
        arr = read_coords(1)
        if np.isnan(arr[0, 0]) and np.isnan(arr[0, 1]):
            return Geom(POINT, srid=srid), off
        g = Geom(POINT, np.ascontiguousarray(arr[:, :2], dtype=np.float64), srid=srid)
        if has_z:
            g.has_z, g.zs = True, np.ascontiguousarray(arr[:, 2], dtype=np.float64)
        return g, off
    if type_id == LINESTRING:
        (n,) = struct.unpack_from(fmt + "I", b, off)
        off += 4
        arr = read_coords(n)
        g = Geom(LINESTRING, np.ascontiguousarray(arr[:, :2], dtype=np.float64), srid=srid)
        if has_z:
            g.has_z, g.zs = True, np.ascontiguousarray(arr[:, 2], dtype=np.float64)
        return g, off
    if type_id == POLYGON:
        (nr,) = struct.unpack_from(fmt + "I", b, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(fmt + "I", b, off)
            off += 4
            rings.append(np.ascontiguousarray(read_coords(n)[:, :2], dtype=np.float64))
        return Geom(POLYGON, rings=rings, srid=srid), off
    # multi / collection
    (np_,) = struct.unpack_from(fmt + "I", b, off)
    off += 4
    parts = []
    for _ in range(np_):
        p, off = _dec(b, off)
        parts.append(p)
    return Geom(type_id, parts=parts, srid=srid), off
