"""Seeded input generator for the spatial benchmark.

Everything here is numpy + ``struct``: the WKB is packed by this module,
not by spark_geo's encoder, so a change to the engine's codec cannot
change the benchmark's inputs.  Same seed => byte-identical tables;
another seed => other tables with the same shape and properties.

Each ``make_*`` returns a dict of named numpy/object columns per table
plus a ``props`` dict describing the properties the workload was built
to have (hot-cell share, vertex-count mix, clustering, ...).
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es", "pt")
WORDS = ("report", "market", "river", "station", "museum", "harbor", "street",
         "festival", "school", "bridge", "garden", "library", "stadium", "plaza")

# Sizes per workload.  They are fixed by the benchmark, not by the seed,
# so every seed yields the same amount of work.
PAGES_N = 300_000
PAGES_POLYS = 300
POINTS_N = 8_000
SITES_N = 12_000
SITES_DISTANCE = 0.4
POIS_N = 2_000  # the first POIS_N sites, the right side of the ring-expansion kNN
POLYS_N = 300

TABLE_FILES = 4  # every table is written as this many parquet files


# ---------------------------------------------------------------------------
# WKB packing (little-endian ISO WKB, 2D)
# ---------------------------------------------------------------------------

def pack_points(xs, ys) -> list:
    """One 21-byte WKB POINT per (x, y)."""
    return [struct.pack("<BIdd", 1, 1, x, y) for x, y in zip(xs.tolist(), ys.tolist())]


def pack_polygon(ring_x, ring_y) -> bytes:
    """WKB POLYGON with one ring; the ring is closed here."""
    xy = np.column_stack([np.append(ring_x, ring_x[0]), np.append(ring_y, ring_y[0])])
    return struct.pack("<BIII", 1, 3, 1, len(xy)) + xy.astype("<f8").tobytes()


def unpack_polygon(b: bytes):
    """Inverse of ``pack_polygon`` for single-ring polygons (used by the
    checker on tile boxes): -> (x, y) arrays of the closed ring."""
    order, gtype, nrings, npts = struct.unpack_from("<BIII", b, 0)
    if order != 1 or gtype != 3 or nrings != 1:
        raise ValueError("expected a little-endian single-ring WKB polygon")
    xy = np.frombuffer(b, dtype="<f8", count=2 * npts, offset=13).reshape(npts, 2)
    return xy[:, 0], xy[:, 1]


# ---------------------------------------------------------------------------
# star polygons: exact point-in-polygon by sector test
# ---------------------------------------------------------------------------

class Stars:
    """Star-shaped polygons: vertex k sits at angle ``phase + 2*pi*k/n``
    around the centre, so the centre sees every edge and a point lies
    inside iff it is left of the edge of its angular sector."""

    def __init__(self, cx, cy, radii_in, radii_out, nverts, rng):
        self.cx, self.cy = np.asarray(cx, float), np.asarray(cy, float)
        self.n = np.asarray(nverts, np.int64)
        self.phase = rng.uniform(0, 2 * np.pi / self.n)
        self.xs, self.ys = [], []
        for i in range(len(self.n)):
            n = int(self.n[i])
            theta = self.phase[i] + 2 * np.pi * np.arange(n) / n
            r = rng.uniform(radii_in[i], radii_out[i], n)
            self.xs.append(self.cx[i] + r * np.cos(theta))
            self.ys.append(self.cy[i] + r * np.sin(theta))
        self.bounds = np.array([[x.min(), y.min(), x.max(), y.max()]
                                for x, y in zip(self.xs, self.ys)]).reshape(-1, 4)

    def __len__(self):
        return len(self.n)

    def wkb(self) -> list:
        return [pack_polygon(x, y) for x, y in zip(self.xs, self.ys)]

    def contains(self, i: int, px, py):
        """Vectorized inside test of points against star ``i``."""
        n = int(self.n[i])
        ang = np.mod(np.arctan2(py - self.cy[i], px - self.cx[i]) - self.phase[i], 2 * np.pi)
        k = np.minimum((ang / (2 * np.pi / n)).astype(np.int64), n - 1)
        ax, ay = self.xs[i][k], self.ys[i][k]
        bx, by = self.xs[i][(k + 1) % n], self.ys[i][(k + 1) % n]
        return (bx - ax) * (py - ay) - (by - ay) * (px - ax) >= 0


def _strat(rng, n, lo=0.0, hi=1.0):
    """n stratified uniform draws in [lo, hi): one per equal slice, shuffled,
    so the sample's spread barely changes from seed to seed."""
    return lo + (hi - lo) * (rng.permutation(n) + rng.random(n)) / n


def _exact(rng, n, values, shares):
    """n draws from ``values`` with the exact given shares, shuffled."""
    counts = np.floor(np.asarray(shares) * n).astype(int)
    counts[0] += n - counts.sum()
    return rng.permutation(np.repeat(values, counts))


def _star_layer(rng, centers, r_out, nverts):
    r_out = np.asarray(r_out, float)
    r_in = r_out * _strat(rng, len(r_out), 0.3, 0.7)
    return Stars(centers[:, 0], centers[:, 1], r_in, r_out, nverts, rng)


def _jittered_grid(rng, n, lon0, lon1, lat0, lat1):
    """n centres on a jittered grid; returns (centres, cell half-size)."""
    nx = int(np.ceil(np.sqrt(n * (lon1 - lon0) / (lat1 - lat0))))
    ny = int(np.ceil(n / nx))
    w, h = (lon1 - lon0) / nx, (lat1 - lat0) / ny
    ix = np.arange(nx * ny) % nx
    iy = np.arange(nx * ny) // nx
    pick = np.sort(rng.choice(nx * ny, n, replace=False))
    cx = lon0 + (ix[pick] + 0.5 + rng.uniform(-0.1, 0.1, n)) * w
    cy = lat0 + (iy[pick] + 0.5 + rng.uniform(-0.1, 0.1, n)) * h
    return np.column_stack([cx, cy]), 0.5 * min(w, h)


def _clusters(rng, n, centers, sd):
    """n points spread evenly over the centres, normal around each
    (per-centre sd)."""
    which = rng.permutation(np.arange(n) % len(centers))
    return (centers[which, 0] + rng.normal(0, 1, n) * sd[which],
            centers[which, 1] + rng.normal(0, 1, n) * sd[which])


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def _e4_text(v) -> pa.Array:
    """Fixed-point text of integer coordinates in 1e-4 degrees:
    -123456 -> "-12.3456"."""
    a = np.abs(v)
    sign = pa.array(np.where(v < 0, "-", ""))
    whole = pc.cast(pa.array(a // 10000), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(a % 10000), pa.string()), width=4, padding="0")
    return pc.binary_join_element_wise(sign, whole, ".", frac, "")


def _page_columns(lat_e4, lon_e4, tagged, words, lang) -> dict:
    """url / text / lang columns of the pages table, built column-wise."""
    n = len(tagged)
    i = pc.cast(pa.array(np.arange(n)), pa.string())
    site = pc.cast(pa.array(np.arange(n) % 997), pa.string())
    vocab = np.array(WORDS)
    w = pc.binary_join_element_wise(*(pa.array(vocab[words[:, j]]) for j in range(3)), " ")
    tag = pc.if_else(pa.array(tagged),
                     pc.binary_join_element_wise("located at ", _e4_text(lat_e4), ",",
                                                 _e4_text(lon_e4), ""),
                     "with no stated location")
    return {"url": pc.binary_join_element_wise("https://site", site, ".example/page/", i, ""),
            "text": pc.binary_join_element_wise("Page ", i, " about the ", w, " ", tag,
                                                ", and more notes on the ", w, ".", ""),
            "lang": pa.array(np.array(LANGS)[lang])}


def make_pages_pip(seed: int) -> dict:
    """CC-style pages with a 'located at lat,lon' tag, and a broadcast
    layer of star polygons with gaps between them."""
    rng = np.random.default_rng([seed, 1])
    lon0, lon1, lat0, lat1 = -120.0, 120.0, -60.0, 60.0
    centers, half = _jittered_grid(rng, PAGES_POLYS, lon0, lon1, lat0, lat1)
    nverts = _exact(rng, PAGES_POLYS, [32, 64, 128, 256, 512], [.3, .3, .2, .15, .05])
    stars = _star_layer(rng, centers, _strat(rng, PAGES_POLYS, 0.5, 0.85) * half, nverts)

    n = PAGES_N
    kind = _exact(rng, n, [1, 0, 2], [0.7, 0.2, 0.1])  # 0 hot, 1 uniform, 2 untagged
    hot_centers = centers[rng.choice(PAGES_POLYS, 4, replace=False)]
    hx, hy = _clusters(rng, n, hot_centers, np.full(4, 0.6 * half))
    ux, uy = rng.uniform(lon0, lon1, n), rng.uniform(lat0, lat1, n)
    lon_e4 = np.round(np.where(kind == 0, hx, ux) * 1e4).astype(np.int64)
    lat_e4 = np.round(np.where(kind == 0, hy, uy) * 1e4).astype(np.int64)
    tagged = kind != 2
    words = rng.integers(0, len(WORDS), (n, 3))
    lang = rng.integers(0, len(LANGS), n)
    lon = np.where(tagged, lon_e4 / 1e4, np.nan)
    lat = np.where(tagged, lat_e4 / 1e4, np.nan)
    return {
        "tables": {
            "pages": _page_columns(lat_e4, lon_e4, tagged, words, lang),
            "layer": {"polygon_id": np.arange(PAGES_POLYS, dtype=np.int64),
                      "geom": stars.wkb()},
        },
        "truth": {"lon": lon, "lat": lat, "stars": stars},
        "props": {"pages": n, "polygons": PAGES_POLYS,
                  "hot_share": round(float(np.mean(kind == 0)), 4),
                  "untagged_share": round(float(np.mean(~tagged)), 4),
                  "vertex_mix": _mix(nverts)},
    }


def make_point_cell(seed: int) -> dict:
    """Skewed points, clustered point sites (1% exact duplicates, so kNN
    has ties) and star polygons with mixed vertex counts, a tenth of
    them large enough to straddle many cells."""
    rng = np.random.default_rng([seed, 2])
    lon0, lon1, lat0, lat1 = -60.0, 60.0, -30.0, 30.0
    m, k = SITES_N, 32
    site_centers, _ = _jittered_grid(rng, k, lon0 + 5, lon1 - 5, lat0 + 5, lat1 - 5)
    hot_centers = site_centers[rng.choice(k, 5, replace=False)]

    p = POLYS_N
    centers = np.column_stack([rng.uniform(lon0 + 4, lon1 - 4, p),
                               rng.uniform(lat0 + 4, lat1 - 4, p)])
    big = np.arange(p) < p // 10
    centers[:5] = hot_centers  # large polygons over the hot spots
    r_out = np.where(big, _strat(rng, p, 1.0, 3.0), _strat(rng, p, 0.1, 0.5))
    nverts = np.exp(_strat(rng, p, np.log(8), np.log(256))).astype(np.int64)
    stars = _star_layer(rng, centers, r_out, nverts)

    n = POINTS_N
    hot = _exact(rng, n, [False, True], [0.4, 0.6])
    hx, hy = _clusters(rng, n, hot_centers, np.full(5, 0.8))
    px = np.where(hot, hx, rng.uniform(lon0, lon1, n))
    py = np.where(hot, hy, rng.uniform(lat0, lat1, n))
    pid = rng.permutation(n).astype(np.int64) + 100

    base = m - m // 100
    clustered = _exact(rng, base, [True, False], [0.95, 0.05])
    cx, cy = _clusters(rng, base, site_centers, np.full(k, 0.5))
    sx = np.where(clustered, cx, rng.uniform(lon0, lon1, base))
    sy = np.where(clustered, cy, rng.uniform(lat0, lat1, base))
    dup = rng.choice(base, m - base, replace=False)
    sx, sy = np.append(sx, sx[dup]), np.append(sy, sy[dup])
    perm = rng.permutation(m)
    sx, sy = sx[perm], sy[perm]
    sid = rng.permutation(m).astype(np.int64) * 3 + 7
    return {
        "tables": {
            "points": {"pid": pid, "lon": px, "lat": py, "geom": pack_points(px, py)},
            "sites": {"sid": sid, "lon": sx, "lat": sy},
            "pois": {"sid": sid[:POIS_N], "geom": pack_points(sx[:POIS_N], sy[:POIS_N])},
            "polygons": {"polygon_id": np.arange(p, dtype=np.int64), "geom": stars.wkb()},
        },
        "truth": {"pid": pid, "px": px, "py": py, "sid": sid, "sx": sx, "sy": sy,
                  "stars": stars, "distance": SITES_DISTANCE, "pois": POIS_N},
        "props": {"points": n, "hot_share": round(float(hot.mean()), 4),
                  "sites": m, "site_clusters": k,
                  "site_clustered_share": round(float(clustered.mean()), 4),
                  "site_duplicates": m - base, "distance": SITES_DISTANCE, "pois": POIS_N,
                  "polygons": p, "large_polygon_share": round(float(big.mean()), 4),
                  "vertex_mix": _mix(nverts)},
    }


MAKERS = {"pages_pip": make_pages_pip, "point_cell": make_point_cell}


def _mix(nverts) -> dict:
    q = np.percentile(nverts, [0, 50, 100])
    return {"min": int(q[0]), "median": int(q[1]), "max": int(q[2])}


def write_tables(tables: dict, root: str) -> dict:
    """Write each table as ``TABLE_FILES`` parquet files under
    ``root/<name>/``; returns {name: (dir, bytes on disk)}."""
    out = {}
    for name, cols in tables.items():
        d = os.path.join(root, name)
        os.makedirs(d)
        t = pa.table({k: (v if isinstance(v, pa.Array)
                          else pa.array(v, pa.binary()) if k == "geom" else pa.array(v))
                      for k, v in cols.items()})
        step = -(-t.num_rows // TABLE_FILES)
        size = 0
        for f in range(TABLE_FILES):
            path = os.path.join(d, f"part-{f:03d}.parquet")
            pq.write_table(t.slice(f * step, step), path)
            size += os.path.getsize(path)
        out[name] = (d, size)
    return out
