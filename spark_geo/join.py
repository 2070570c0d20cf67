"""Spatial joins — the heart of the engine (SURVEY.md §2.6).

Two physical strategies, both reproducing the reference's
``STRtree.query_bulk`` inner-join semantics (reference
strtree.py:135-228: left rows with None/empty geometry omitted,
candidates from envelope overlap, exact predicate refine with the
probe geometry prepared once):

1. **broadcast** (small right side): collect it once on the driver
   into one ``_BroadcastSide`` (point coordinates or an STRtree),
   ``sc.broadcast`` it, and probe each left Arrow batch inside ONE
   ``mapInArrow`` runner — zero shuffle, the Spark analogue of
   query_bulk-per-batch.  Every broadcast join and kNN, with WKB or
   lon/lat probes, runs through that one path.  Point probes take a
   fully vectorized two-phase path: envelope candidates from the CSR
   grid (kernel.grid), then ONE ray-casting PIP call per distinct
   candidate polygon over all its candidate points (the per-batch
   "prepare once" of reference src/strtree.c:286).

2. **cell equi-join** (large ✕ large): one ``mapInArrow`` per side
   keys its rows by quad-grid cells (points: 1 cell; geometries: their
   cover), Catalyst sort-merge/broadcast equi-joins on cell, and one
   grouped ``mapInArrow`` refines the candidates, each right geometry
   decoded once per group.  AQE handles runtime skew;
   pipeline.salt_hot_cells handles persistent hot cells explicitly
   (north_rule).

At 100 TB scale: strategy 1 is the right plan whenever the polygon
layer fits in executor memory (admin boundaries, tile grids — the
common case); it touches each page row exactly once with no exchange.
Strategy 2 is the fallback for billion-polygon right sides.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .kernel import batchwkb as K_bw
from .kernel import cell as K_cell
from .kernel import grid as K_grid
from .kernel import measure as K_m
from .kernel import predicates as K_p
from .kernel import relate as K_rel
from .kernel import wkb as K_wkb
from .kernel.geom import Geom
from .kernel.strtree import PREDICATES, STRtree
from . import functions as SG

# Hard cap on the rows a DIRECT broadcast API will collect to the
# driver (r6, VERDICT r5 item 4): the auto-picker (spatial_join)
# already limit-probes before choosing broadcast, but a user calling
# broadcast_* with a huge right side previously got a driver OOM
# instead of an actionable error.  The cap is enforced by collecting
# AT MOST limit+1 rows (no extra count job).
BROADCAST_RIGHT_LIMIT = 5_000_000

# predicates that hold between two points exactly when they coincide;
# every other predicate (touches, overlaps, crosses) never holds
_COINCIDE = {"intersects", "within", "covered_by", "contains", "covers",
             "contains_properly"}


def _collect_right(right, cols, limit, api):
    rows = right.select(*cols).limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"{api}: right side exceeds {limit} rows; a side this "
            "large cannot be broadcast as a driver-built tree — use "
            "cell_spatial_join / cell_nearest_all (the large-by-large "
            "plans), or raise the limit explicitly if the driver has "
            "the memory")
    return rows


# ---------------------------------------------------------------------------
# the broadcast side and the probe batch (both used inside the worker)
# ---------------------------------------------------------------------------

class _BroadcastSide:
    """The right side of every broadcast join and kNN, built once on the
    driver and broadcast as one object: ``ids`` plus either the finite
    coordinates ``xs``/``ys`` (at positions ``pos`` into ``ids``) of an
    all-point side, or an STRtree (``tree``)."""

    def __init__(self, ids, tree: STRtree | None = None, xs=None, ys=None):
        self.ids, self.tree = ids, tree
        if tree is None:
            pos = np.arange(len(xs))
        elif getattr(tree, "_points_only", False) or all(
                tree._geoms[i].type_id == 0 for i in tree._idx):
            # point items have degenerate envelopes: the coordinates are
            # the boxes' min corners
            xs, ys, pos = tree._boxes[:, 0], tree._boxes[:, 1], tree._idx
            self.tree = None
        if self.tree is None:
            # a point with no finite position can never match or be nearest
            ok = np.isfinite(xs) & np.isfinite(ys)
            self.xs, self.ys, self.pos = xs[ok], ys[ok], pos[ok]
        self._grid = self._point_tree = None  # worker-side caches

    @staticmethod
    def check_predicate(predicate, distance):
        """Driver-side validation, so a bad call fails before any job."""
        if predicate != "dwithin" and predicate not in PREDICATES:
            raise ValueError(f"unknown predicate {predicate!r}; one of "
                             f"{sorted(k for k in PREDICATES if k)} or 'dwithin'")
        if predicate == "dwithin" and distance is None:
            raise ValueError("distance parameter is required with dwithin predicate")

    @classmethod
    def collect(cls, right, api, right_id, right_geom, right_lon=None,
                right_lat=None, max_right_rows=None) -> "_BroadcastSide":
        """Collect ``right_id`` and the WKB ``right_geom`` or the DOUBLE
        pair ``right_lon``/``right_lat`` (then no Geom objects are built
        or pickled) under the broadcast cap; an explicit 0 is a cap."""
        if (right_lon is None) != (right_lat is None):
            raise ValueError(f"{api}: give both right_lon and right_lat, or neither")
        limit = BROADCAST_RIGHT_LIMIT if max_right_rows is None else max_right_rows
        if right_lon is None:
            rows = _collect_right(right, [right_id, right_geom], limit, api)
            return cls(np.asarray([r[0] for r in rows], dtype=np.int64),
                       STRtree([SG._loads_safe(r[1]) for r in rows]))
        rows = _collect_right(right, [right_id, right_lon, right_lat], limit, api)
        xs, ys = (np.fromiter((np.nan if r[i] is None else r[i] for r in rows),
                              np.float64, count=len(rows)) for i in (1, 2))
        return cls(np.asarray([r[0] for r in rows], dtype=np.int64), xs=xs, ys=ys)

    def geom_tree(self) -> STRtree:
        """STRtree for the general-geometry paths; an all-point side
        builds it once per worker, when a non-point batch needs it."""
        if self.tree is not None:
            return self.tree
        if self._point_tree is None:
            geoms = [None] * (int(self.pos.max(initial=-1)) + 1)
            for p, x, y in zip(self.pos.tolist(), self.xs.tolist(), self.ys.tolist()):
                geoms[p] = Geom.point(x, y)
            self._point_tree = STRtree(geoms)
        return self._point_tree

    def query(self, probe: "_Probe", predicate, distance):
        """query_bulk over one probe batch -> (row, position) arrays.
        Point batches take grid candidates, then one ``hypot`` against
        an all-point side, or one vectorized kernel call per candidate
        geometry (the per-batch "prepare once" of src/strtree.c:286)."""
        if not probe.points:
            pairs = self.geom_tree().query_bulk(probe.geoms(), predicate=predicate,
                                                distance=distance)
            return pairs[0], pairs[1]
        pad = distance if predicate == "dwithin" else 0.0
        if self._grid is None or self._grid.pad != pad:
            boxes = self.tree._boxes if self.tree is not None else \
                np.column_stack([self.xs, self.ys, self.xs, self.ys])
            self._grid = K_grid.BoxGrid(boxes, pad)
        xs, ys = probe.xs, probe.ys
        cl, cr = self._grid.candidates(xs, ys)
        pos = self.tree._idx if self.tree is not None else self.pos
        if predicate is None:
            return cl, pos[cr]
        if self.tree is None:
            d = np.hypot(xs[cl] - self.xs[cr], ys[cl] - self.ys[cr])
            if predicate == "dwithin":
                keep = d <= distance
            else:  # vertex coincidence, like point_predicate_mask
                keep = (d <= 1e-12) & (predicate in _COINCIDE)
            return cl[keep], pos[cr[keep]]
        geoms = self.tree._geoms
        rows, keep = _point_refine_rows(cr, lambda i: geoms[pos[cr[i]]], xs[cl], ys[cl],
                                        predicate, distance)
        rows = rows[keep]
        return cl[rows], pos[cr[rows]]


class _Probe:
    """One Arrow batch as probe rows: a WKB column ``raw`` (object
    array of bytes / None) or lon/lat doubles.  ``xs``/``ys`` are NaN
    where a row is NULL or not a point; ``points`` says whether every
    non-NULL row is a point."""

    def __init__(self, raw=None, xs=None, ys=None):
        self.raw, self.points = raw, raw is None
        if raw is not None:
            xs, ys = K_wkb.decode_points(raw)
            self.points = bool(np.all(np.isnan(xs) == np.equal(raw, None)))
        self.xs, self.ys = xs, ys

    def geoms(self):
        """The decoded geometries the general-geometry paths need."""
        if self.raw is not None:
            return [SG._loads_safe(v) for v in self.raw]
        return [None if np.isnan(x) or np.isnan(y) else Geom.point(x, y)
                for x, y in zip(self.xs.tolist(), self.ys.tolist())]


def point_predicate_mask(g, px, py, predicate, distance=None):
    """Vectorized predicate mask of a point batch against ONE decoded
    geometry — the "prepare once per geometry" kernel (reference
    src/strtree.c:286 prepared-probe semantics) shared by the
    broadcast probe and the cell-join refine."""
    if predicate == "dwithin":
        return K_m.points_to_geom_dist(px, py, g) <= distance
    miss = np.zeros(len(px), dtype=bool)
    if predicate in ("contains", "covers", "contains_properly"):
        # a point covers g only if every vertex of g coincides with it
        # (vertices spread wider, or NaN, cannot all coincide)
        gv = K_m.vertices(g)
        return _coincide(px, py, gv).all(axis=1) \
            if np.ptp(gv, axis=0).max() <= 2e-12 else miss
    if g.type_id in (3, 6, 7) or g.rings or any(
            p.type_id in (3,) for p in g.parts):
        inside, boundary = K_p.points_in_polygon(px, py, g)
        if predicate == "intersects" or predicate == "covered_by":
            return inside | boundary
        if predicate == "within":
            return inside
        if predicate == "touches":
            return boundary
        return miss
    segs = K_m.segments(g)
    if len(segs):
        on_line = K_m.points_to_segments_dist(px, py, segs) <= 1e-12
        if predicate in ("intersects", "covered_by"):
            return on_line
        at_end = _coincide(px, py, K_p._line_boundary_points(g)).any(axis=1)
        if predicate == "within":
            return on_line & ~at_end
        return at_end if predicate == "touches" else miss
    # point tree geometry
    eq = _coincide(px, py, K_m.vertices(g)).any(axis=1)
    return eq if predicate in ("intersects", "within", "covered_by") else miss


def _coincide(px, py, v):
    """(points, vertices) mask: point within 1e-12 of vertex."""
    return np.hypot(px[:, None] - v[None, :, 0], py[:, None] - v[None, :, 1]) <= 1e-12


def probe_batch(tree: STRtree, wkbs, predicate=None, distance=None):
    """query_bulk over one batch of WKB geometries -> (row_pos,
    tree_item_index) arrays — the broadcast joins' per-batch probe on a
    bare tree.  Point batches go fully vectorized."""
    raw = np.asarray([SG._b(v) for v in wkbs], dtype=object)
    return _BroadcastSide(None, tree).query(_Probe(raw), predicate, distance)


# ---------------------------------------------------------------------------
# the one broadcast plan: every broadcast join and kNN runs through it
# ---------------------------------------------------------------------------

def _run_broadcast(left: DataFrame, side: _BroadcastSide, op, *, right_id,
                   geom=None, lonlat=None, keep=None, cell_res=None,
                   with_distance=False) -> DataFrame:
    """One ``mapInArrow`` over ``left`` with ``side`` broadcast; per
    Arrow batch, ``op(side, probe)`` -> (row, right id, distance|None)
    arrays.  Probes come from the WKB column ``geom`` (output: every
    left column) or the DOUBLE pair ``lonlat`` (output: the ``keep``
    columns).  Output columns are gathered with Arrow ``take`` — they
    never become pandas/Python objects — then [``cell`` at
    ``cell_res``] + ``right_id`` [+ ``distance``]."""
    if geom is not None:
        src, keep, probe = left, range(len(left.columns)), [left.columns.index(geom)]
    else:
        keep = keep or []
        src = left.select(*keep, *lonlat)
        keep, probe = range(len(keep)), [len(keep), len(keep) + 1]
    fields = [src.schema.fields[i] for i in keep]
    if cell_res is not None:
        fields.append(T.StructField("cell", T.LongType(), False))
    fields.append(T.StructField(right_id, T.LongType()))
    if with_distance:
        fields.append(T.StructField("distance", T.DoubleType()))
    out_schema = T.StructType(fields)
    bc = src.sparkSession.sparkContext.broadcast(side)

    def run(batches):
        import pyarrow as pa
        side_l = bc.value  # deserialized once per worker
        for b in batches:
            cols = [b.column(i).to_numpy(zero_copy_only=False) for i in probe]
            pr = _Probe(*cols) if len(cols) == 1 else _Probe(  # NULL -> NaN
                xs=cols[0].astype(np.float64, copy=False),
                ys=cols[1].astype(np.float64, copy=False))
            li, rids, dd = op(side_l, pr)
            take = pa.array(li, type=pa.int64())
            out = [b.column(i).take(take) for i in keep]
            if cell_res is not None:
                out.append(pa.array(K_cell.cell_of(pr.xs[li], pr.ys[li], cell_res),
                                    type=pa.int64()))
            out.append(pa.array(rids, type=pa.int64()))
            if with_distance:
                out.append(pa.array(dd, type=pa.float64()))
            yield pa.RecordBatch.from_arrays(out, names=out_schema.fieldNames())

    return src.mapInArrow(run, schema=out_schema)


def _join_op(predicate, distance):
    def op(side, probe):
        li, ri = side.query(probe, predicate, distance)
        return li, side.ids[ri], None
    return op


def broadcast_spatial_join(left: DataFrame, right: DataFrame, *,
                           predicate: str = "intersects",
                           left_geom: str = "geom", right_geom: str = "geom",
                           right_id: str = "right_id",
                           distance: float | None = None,
                           max_right_rows: int | None = None) -> DataFrame:
    """Inner spatial join, right side broadcast as an STRtree.

    Output = all left columns + ``right_id``.  Join the result back to
    ``right`` (a broadcast hash join — it is small by construction) to
    attach more right columns."""
    _BroadcastSide.check_predicate(predicate, distance)
    side = _BroadcastSide.collect(right, "broadcast_spatial_join", right_id,
                                  right_geom, max_right_rows=max_right_rows)
    return _run_broadcast(left, side, _join_op(predicate, distance),
                          right_id=right_id, geom=left_geom)


def broadcast_lonlat_join(left: DataFrame, right: DataFrame, *,
                          lon: str = "lon", lat: str = "lat",
                          predicate: str = "intersects",
                          right_geom: str = "geom",
                          right_id: str = "right_id",
                          distance: float | None = None,
                          cell_res: int | None = None,
                          keep: list[str] | None = None,
                          max_right_rows: int | None = None,
                          right_lon: str | None = None,
                          right_lat: str | None = None) -> DataFrame:
    """Point-probe join straight from lon/lat DOUBLE columns — the
    minimal-data-movement plan for the pages pipeline: only the
    columns named in ``keep`` (+ lon/lat) cross the Python boundary,
    WKB encoding is skipped entirely, and the cell id is computed in
    the same crossing (``cell_res``).  Pairs are identical to
    ``broadcast_spatial_join`` over ``st_point(lon, lat)``.

    ``right_lon``/``right_lat`` (r6): when the RIGHT side is also
    points, collect its coordinate doubles instead of WKB — the
    broadcast then carries numpy arrays, not a list of Python geometry
    objects, which removes the per-query job that evaluated st_point
    and the 10k-object pickle from the driver path (guide §5: the
    driver should do almost no data work).

    Output: keep columns + [cell] + right_id.  At 10^12 rows this is
    the plan that matters: one Arrow roundtrip of ~16 bytes/row plus the
    keep columns."""
    _BroadcastSide.check_predicate(predicate, distance)
    side = _BroadcastSide.collect(right, "broadcast_lonlat_join", right_id,
                                  right_geom, right_lon, right_lat, max_right_rows)
    return _run_broadcast(left, side, _join_op(predicate, distance),
                          right_id=right_id, lonlat=(lon, lat), keep=keep,
                          cell_res=cell_res)


# ---------------------------------------------------------------------------
# the cell plans: one Arrow runner per side, one grouped-refine runner
# ---------------------------------------------------------------------------

class _Seeds(NamedTuple):
    """One side batch of ``n`` WKB rows, decoded once: probe vertices
    (prow, px, py) and seed cells (srow, seeds), both ordered by row.
    A point is its own probe and seed; a geometry probes with every
    vertex and seeds every cell of its cover at the join resolution.
    Rows with no finite position (NULL, empty, malformed, NaN/inf
    coordinates) get neither."""
    n: int
    prow: np.ndarray
    px: np.ndarray
    py: np.ndarray
    srow: np.ndarray
    seeds: np.ndarray

    def xy(self, rows):
        """Probe coordinates of ``rows`` (points sides: one per row)."""
        x, y = np.full(self.n, np.nan), np.full(self.n, np.nan)
        x[self.prow], y[self.prow] = self.px, self.py
        return x[rows], y[rows]


def _decode_seeds(raw, res: int, points: bool) -> _Seeds:
    if points:
        xs, ys = K_wkb.decode_points(raw)
        rows = np.flatnonzero(np.isfinite(xs) & np.isfinite(ys))
        return _Seeds(len(raw), rows, xs[rows], ys[rows], rows,
                      K_cell.cell_of(xs[rows], ys[rows], res))
    prow, pts, srow, seeds = [], [], [], []
    for i, v in enumerate(raw):
        g = SG._loads_safe(v)
        c = None if g is None or g.is_empty else g.all_coords()
        if c is None or not len(c) or not np.isfinite(c).all():
            continue
        cov = K_cell.cover_to_res(K_cell.cover(g, res), res)
        prow.append(np.full(len(c), i, np.int64))
        pts.append(c)
        srow.append(np.full(len(cov), i, np.int64))
        seeds.append(cov)
    if not prow:
        e = np.empty(0, np.int64)
        return _Seeds(len(raw), e, np.empty(0), np.empty(0), e, e)
    pts = np.concatenate(pts)
    return _Seeds(len(raw), np.concatenate(prow), pts[:, 0], pts[:, 1],
                  np.concatenate(srow), np.concatenate(seeds))


def _disk_cells(srow, seeds, ks, res: int):
    """Every cell within ``ks[i]`` Chebyshev cells of ``seeds[i]``, as
    (row, cell, ring) with one entry per (row, cell) and ring the
    wrapped Chebyshev distance to the row's nearest seed.  Seeds with
    the same radius expand together, chunked so rows ✕ stencil stays
    bounded (one far seed must not allocate a huge matrix for all
    rows)."""
    n = 1 << res
    sel_parts, cell_parts = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for k in np.unique(ks):
        sel = np.nonzero(ks == k)[0]
        step = max(1, (1 << 22) // (2 * int(k) + 1) ** 2)
        for s in range(0, len(sel), step):
            part = sel[s:s + step]
            cells, valid = K_cell.k_ring_batch(seeds[part], int(k))
            i, j = np.nonzero(valid)
            sel_parts.append(part[i])
            cell_parts.append(cells[i, j])
    si, cells = np.concatenate(sel_parts), np.concatenate(cell_parts)
    ax, ay = K_cell.cell_ixy(seeds[si])
    bx, by = K_cell.cell_ixy(cells)
    dx = np.abs(ax - bx)
    ring = np.maximum(np.minimum(dx, n - dx), np.abs(ay - by))
    row = srow[si]
    order = np.lexsort((ring, cells, row))
    row, cells, ring = row[order], cells[order], ring[order]
    first = np.ones(len(row), bool)
    first[1:] = (row[1:] != row[:-1]) | (cells[1:] != cells[:-1])
    return row[first], cells[first], ring[first]


def _run_side(df: DataFrame, id_col, geom_col, name, fields, expand, *,
              res: int, points: bool, carry_geom: bool = False) -> DataFrame:
    """One ``mapInArrow`` over one side of a cell plan.  Each Arrow
    batch of (``id_col``, WKB ``geom_col``) is decoded once
    (``_decode_seeds``: ``decode_points`` -> ``cell_of`` for a points
    side, ``cover`` -> ``cover_to_res`` for a geometry side), and
    ``expand(seeds)`` -> (rows, arrays) gives the input row of every
    output row and its computed ``fields``.  The id (as ``name``) and,
    with ``carry_geom``, the WKB (as ``_rgeom``) are gathered with
    Arrow ``take``."""
    src = df.select(id_col, geom_col)
    out = [T.StructField(name, src.schema[0].dataType), *fields]
    if carry_geom:
        out.append(T.StructField("_rgeom", T.BinaryType()))
    schema = T.StructType(out)

    def run(batches):
        import pyarrow as pa
        for b in batches:
            geom = b.column(1)
            rows, arrays = expand(_decode_seeds(
                geom.to_numpy(zero_copy_only=False), res, points))
            take = pa.array(rows, type=pa.int64())
            cols = [b.column(0).take(take), *(pa.array(a) for a in arrays)]
            if carry_geom:
                cols.append(geom.take(take))
            yield pa.RecordBatch.from_arrays(cols, names=schema.fieldNames())

    return src.mapInArrow(run, schema=schema)


_CELL = T.StructField("_cell", T.LongType(), False)
_LXY = [T.StructField("_lx", T.DoubleType(), False),
        T.StructField("_ly", T.DoubleType(), False)]


def _join_cells(res: int, k: int | None, xy: bool):
    """Side rows of the cell join: one per (row, seed cell), or with
    ``k`` one per distinct cell within k rings of a seed; ``xy`` adds
    the point coordinates."""
    def expand(s: _Seeds):
        row, cells = s.srow, s.seeds
        if k is not None:
            row, cells, _ = _disk_cells(row, cells, np.full(len(cells), k), res)
        return row, [*s.xy(row), cells] if xy else [cells]
    return expand


def _codes(col):
    """Arrow column -> int codes, equal for equal values, -1 for NULL."""
    return col.dictionary_encode().indices.fill_null(-1).to_numpy()


def _per_geometry(keys, geom_at, fn, fill):
    """Group the candidate rows with a non-negative key by key (stable
    sort) and run ``fn(rows, g)`` once per group, ``g = geom_at(first
    row)`` fetched or decoded once per group; a group whose geometry is
    None or empty gets ``fill``.  -> (rows in group order, one value
    per row of it)."""
    order = np.argsort(keys, kind="stable")
    order = order[keys[order] >= 0]
    k = keys[order]
    out = np.full(len(order), fill)
    cut = np.flatnonzero(k[1:] != k[:-1]) + 1
    for s, e in zip(np.r_[0, cut], np.r_[cut, len(k)]) if len(k) else ():
        rows = order[s:e]
        g = geom_at(rows[0])
        if g is not None and not g.is_empty:
            out[s:e] = fn(rows, g)
    return order, out


def _point_refine_rows(keys, geom_at, px, py, predicate, distance):
    """The per-geometry point refine of the broadcast probe and the
    cell join: one ``point_predicate_mask`` call per candidate geometry
    over all its candidate points -> (rows in group order, keep mask)."""
    return _per_geometry(keys, geom_at, lambda rows, g: point_predicate_mask(
        g, px[rows], py[rows], predicate, distance), False)


def _join_back(pairs: DataFrame, left: DataFrame, left_id, left_geom,
               right: DataFrame, right_id, right_geom) -> DataFrame:
    """``pairs`` of candidate ids (``_lid``, ``_rid``) with both WKBs
    equi-joined back by id as ``_lgeom`` / ``_rgeom``: the general-
    geometry refine input, so the candidate shuffle carries ids only."""
    lg = left.select(F.col(left_id).alias("_lid"),
                     F.col(left_geom).alias("_lgeom"))
    rg = right.select(F.col(right_id).alias("_rid"),
                      F.col(right_geom).alias("_rgeom"))
    return pairs.join(rg, "_rid").join(lg, "_lid")


def _run_refine(cand: DataFrame, op, keep=("_lid", "_rid"),
                with_distance: bool = False) -> DataFrame:
    """One ``mapInArrow`` over candidate rows carrying the right WKB
    ``_rgeom``.  Per Arrow batch, ``op(batch, right codes)`` gives the
    rows grouped by right (a NULL ``_rid`` dropped) and each one's keep
    mask, or its distance (NaN: dropped) ``with_distance``.  The
    ``keep`` columns of the kept rows are gathered with Arrow ``take``
    [+ ``_d``]."""
    fields = [cand.schema[c] for c in keep]
    if with_distance:
        fields.append(T.StructField("_d", T.DoubleType(), False))
    schema = T.StructType(fields)

    def run(batches):
        import pyarrow as pa
        for b in batches:
            rows, v = op(b, _codes(b.column("_rid")))
            ok = ~np.isnan(v) if with_distance else v
            take = pa.array(rows[ok], type=pa.int64())
            cols = [b.column(c).take(take) for c in keep]
            if with_distance:
                cols.append(pa.array(v[ok], type=pa.float64()))
            yield pa.RecordBatch.from_arrays(cols, names=schema.fieldNames())

    return cand.mapInArrow(run, schema=schema)


def _col(b, name):
    return b.column(name).to_numpy(zero_copy_only=False)


def _right_at(b):
    """Decode the right WKB of one candidate row (once per group)."""
    raw = _col(b, "_rgeom")
    return lambda i: SG._loads_safe(raw[i])


def _point_refine(predicate, distance):
    """Refine op for point lefts carried as ``_lx``/``_ly``; a NULL
    ``_lid`` is kept, as in the broadcast join."""
    def op(b, rkeys):
        return _point_refine_rows(rkeys, _right_at(b), _col(b, "_lx"),
                                  _col(b, "_ly"), predicate, distance)
    return op


def _left_runs(b, rkeys):
    """Each distinct ``_lid``'s ``_lgeom`` decoded once per batch into
    one Runs (``batchwkb.decode_canonical``; row = left code) -> (left
    code per row, Runs, group keys with -1 where ``_lid`` is NULL)."""
    codes = _codes(b.column("_lid"))
    seen, first = np.unique(codes, return_index=True)
    lraw = _col(b, "_lgeom")
    R = K_bw.decode_canonical([lraw[i] for i in first[seen >= 0]])
    return codes, R, np.where(codes < 0, -1, rkeys)


def _geoms_refine(predicate, distance, pattern=None):
    """Refine op for general left geometries ``_lgeom``.

    Each batch's distinct lefts are decoded once into one Runs; each
    right group gathers its owner stacks from it.  Candidates pass a
    vectorized bbox prefilter, then the many-vs-one batch kernel
    (kernel.batchwkb.batch_predicate_one — owner-block vectorized, no
    per-pair Python; scalar verify only on the survivors of the
    containment and intersection-requiring predicates).
    ``relate_pattern`` gates on the vectorized intersects pass (sound
    because join patterns must require intersection,
    _check_join_pattern) and computes the exact DE-9IM matrix only for
    intersecting pairs."""
    gate = "intersects" if predicate == "relate_pattern" else predicate
    pad = float(distance) if predicate == "dwithin" else 0.0

    def op(b, rkeys):
        codes, R, keys = _left_runs(b, rkeys)
        lb = R.stacks()[4]

        def group(rows, g):
            out = np.zeros(len(rows), dtype=bool)
            gb = g.bounds()
            if np.isnan(gb[0]):
                return out
            gc = codes[rows]
            box = lb[gc]
            alive = ~(np.isnan(box[:, 0])
                      | (box[:, 2] + pad < gb[0]) | (gb[2] + pad < box[:, 0])
                      | (box[:, 3] + pad < gb[1]) | (gb[3] + pad < box[:, 1]))
            if not alive.any():
                return out
            sel = gc[alive]
            mask = K_bw.batch_predicate_one(R, sel, g, gate, distance)
            if predicate == "relate_pattern":
                for i in np.flatnonzero(mask):
                    mask[i] = K_rel.relate_pattern(R.geom(sel[i]), g, pattern)
            out[alive] = mask
            return out

        return _per_geometry(keys, _right_at(b), group, False)
    return op


def _distance_refine(b, rkeys):
    """Refine op for the general kNN: exact left-right distance through
    the vectorized ``batch_distance_one``."""
    codes, R, keys = _left_runs(b, rkeys)
    return _per_geometry(keys, _right_at(b), lambda rows, g:
                         K_bw.batch_distance_one(R, codes[rows], g), np.nan)


def cell_spatial_join(left: DataFrame, right: DataFrame, *,
                      predicate: str = "intersects",
                      left_geom: str = "geom", right_geom: str = "geom",
                      left_id: str = "left_id", right_id: str = "right_id",
                      res: int = 7, distance: float | None = None,
                      left_is_points: bool = False,
                      pattern: str | None = None) -> DataFrame:
    """Large✕large spatial join: coarse cell equi-join (Catalyst
    sort-merge; AQE skew split) + exact refine.

    ``distance`` (dwithin) expands the left cells by k rings with
    k = ceil(d / cell_height) — the cell-grid analogue of the
    reference's bbox expansion (src/strtree.c:1165-1188).

    ``predicate="relate_pattern"`` joins on a DE-9IM ``pattern``
    (reference predicates.py:975-1007 semantics).  The pattern MUST
    require an intersection — at least one of the II/IB/BI/BB slots in
    {T,0,1,2} — because cell-overlap candidate generation can only
    surface pairs whose geometries come near each other; a pattern
    satisfiable by disjoint pairs (e.g. ``FF*FF****``) is semantically
    a cross join and is rejected.  The refine runs the vectorized
    intersects gate first and evaluates the exact scalar DE-9IM matrix
    only on its survivors, so the scalar work is linear in the number
    of INTERSECTING pairs, not the candidate count.

    Plan: one ``mapInArrow`` per side decodes each WKB once and emits
    its cell rows (``_run_side``), Catalyst equi-joins them on cell, and
    one grouped ``mapInArrow`` refine decodes each right geometry once
    per group (the broadcast path's per-geometry "prepare") instead of
    once per candidate pair (``_run_refine``).  The predicate is
    validated on the driver.

    ``left_is_points=True`` (every left geometry a point) is the
    2-exchange plan: the right's cover rows carry its WKB ``_rgeom``,
    so the equi-join feeds the refine directly, with 16 B of lon/lat
    doubles per left row.  Cost model: the right's shuffle carries the
    WKB once per cover cell instead of once per geometry, while an id
    join-back would shuffle the candidate ids once more and the WKB
    once per geometry.  Both plans send one WKB per candidate row into
    Python, so the extra bytes are those of cover cells with no
    candidate — small when the left points are dense where the right
    geometries are, and up to (cover cells / geometry) ✕ the WKB when
    they are sparse.  dwithin candidates repeat once per shared ring
    cell, so its hits are deduplicated after the refine.

    The general default handles any geometry (a polygon left under the
    point path has no point coordinates and drops out, so correctness
    must be the default).  Its candidate shuffle carries ONLY ids: the
    (_lid, _rid) pairs are deduplicated, then both geometries are
    equi-joined back by id for the refine."""
    if predicate == "relate_pattern":
        if left_is_points:
            raise ValueError("relate_pattern uses the general-geometry "
                             "refine; call with left_is_points=False")
        _check_join_pattern(pattern)
    elif pattern is not None:
        raise ValueError("pattern is only valid with predicate='relate_pattern'")
    elif predicate is None:
        raise ValueError("predicate=None (bbox-only) is not supported by a "
                         "cell join; give an exact predicate")
    else:
        _BroadcastSide.check_predicate(predicate, distance)
    k = int(np.ceil(distance / (180.0 / (1 << res)))) \
        if predicate == "dwithin" else None
    r = _run_side(right, right_id, right_geom, "_rid", [_CELL],
                  _join_cells(res, None, False), res=res, points=False,
                  carry_geom=left_is_points)
    l = _run_side(left, left_id, left_geom, "_lid",
                  [*_LXY, _CELL] if left_is_points else [_CELL],
                  _join_cells(res, k, left_is_points), res=res,
                  points=left_is_points)
    cand = l.join(r, "_cell")
    if left_is_points:
        out = _run_refine(cand.select("_lid", "_lx", "_ly", "_rid", "_rgeom"),
                          _point_refine(predicate, distance))
        if k is not None:
            out = out.dropDuplicates(["_lid", "_rid"])
    else:
        cand = cand.select("_lid", "_rid").dropDuplicates(["_lid", "_rid"])
        out = _run_refine(_join_back(cand, left, left_id, left_geom,
                                     right, right_id, right_geom),
                          _geoms_refine(predicate, distance, pattern))
    return out.select(F.col("_lid").alias(left_id),
                      F.col("_rid").alias(right_id))


_PATTERN_INTERSECTION_SLOTS = (0, 1, 3, 4)  # II, IB, BI, BB


def _check_join_pattern(pattern):
    """A DE-9IM join pattern must REQUIRE an intersection (some
    interior/boundary slot in {T,0,1,2}) — only then is cell-overlap
    candidate generation complete for it."""
    if pattern is None or len(pattern) != 9 \
            or any(c not in "TF*012tf" for c in pattern):
        raise ValueError(f"invalid DE-9IM pattern {pattern!r}: need 9 "
                         "characters from {T,F,*,0,1,2}")
    if not any(pattern[i] in "T012" for i in _PATTERN_INTERSECTION_SLOTS):
        raise ValueError(
            f"pattern {pattern!r} does not require the geometries to "
            "intersect (all of II/IB/BI/BB are F or *); such a join is "
            "satisfiable by arbitrarily distant pairs and cannot be "
            "answered by cell-overlap candidate generation")


def spatial_join(left: DataFrame, right: DataFrame, *,
                 predicate: str = "intersects",
                 left_geom: str = "geom", right_geom: str = "geom",
                 left_id: str = "left_id", right_id: str = "right_id",
                 strategy: str = "auto", res: int = 7,
                 distance: float | None = None,
                 left_is_points: bool = False,
                 broadcast_threshold: int = 200_000) -> DataFrame:
    """Plan chooser: broadcast STRtree when the right side is small
    (counted once — at 100 TB the layer cardinality is metadata),
    else the two-phase cell join."""
    if strategy not in ("auto", "broadcast", "cell"):
        raise ValueError(f"unknown strategy {strategy!r}; one of "
                         "'auto', 'broadcast', 'cell'")
    _BroadcastSide.check_predicate(predicate, distance)
    if strategy == "auto":
        # limit-bounded probe: answers "is it small?" without a full
        # count action over a potentially huge right side
        n_probe = right.limit(broadcast_threshold + 1).count()
        strategy = "broadcast" if n_probe <= broadcast_threshold else "cell"
    if strategy == "broadcast":
        joined = broadcast_spatial_join(
            left, right, predicate=predicate, left_geom=left_geom,
            right_geom=right_geom, right_id=right_id, distance=distance)
        return joined.select(F.col(left_id), F.col(right_id))
    return cell_spatial_join(
        left, right, predicate=predicate, left_geom=left_geom,
        right_geom=right_geom, left_id=left_id, right_id=right_id,
        res=res, distance=distance, left_is_points=left_is_points)
