"""Spatial joins — the heart of the engine (SURVEY.md §2.6).

Two physical strategies, both reproducing the reference's
``STRtree.query_bulk`` inner-join semantics (reference
strtree.py:135-228: left rows with None/empty geometry omitted,
candidates from envelope overlap, exact predicate refine with the
probe geometry prepared once):

1. **broadcast** (small right side): build the STRtree once on the
   driver, ``sc.broadcast`` it, probe each left Arrow batch inside
   ``mapInPandas`` — zero shuffle, the Spark analogue of
   query_bulk-per-batch.  Point probes take a fully vectorized
   two-phase path: bbox candidates from the tree, then ONE
   ray-casting PIP call per distinct candidate polygon over all its
   candidate points (the per-batch "prepare once" of
   reference src/strtree.c:286).

2. **cell equi-join** (large ✕ large): both sides keyed by quad-grid
   cells (points: 1 cell; polygons: exploded cover), Catalyst
   sort-merge/broadcast equi-join on cell, exact refine, pair dedup.
   AQE handles runtime skew; pipeline.salt_hot_cells handles
   persistent hot cells explicitly (north_rule).

At 100 TB scale: strategy 1 is the right plan whenever the polygon
layer fits in executor memory (admin boundaries, tile grids — the
common case); it touches each page row exactly once with no exchange.
Strategy 2 is the fallback for billion-polygon right sides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .kernel import cell as K_cell
from .kernel import measure as K_m
from .kernel import predicates as K_p
from .kernel import wkb as K_wkb
from .kernel.strtree import PREDICATES, STRtree
from . import functions as SG

_POINT_FAST_PREDICATES = {"intersects", "within", "covered_by", "dwithin", "touches"}

# Hard cap on the rows a DIRECT broadcast API will collect to the
# driver (r6, VERDICT r5 item 4): the auto-picker (spatial_join)
# already limit-probes before choosing broadcast, but a user calling
# broadcast_* with a huge right side previously got a driver OOM
# instead of an actionable error.  The cap is enforced by collecting
# AT MOST limit+1 rows (no extra count job).
BROADCAST_RIGHT_LIMIT = 5_000_000


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


def _right_limit(max_right_rows, right_lon, right_lat, api):
    """Collect cap of the lon/lat broadcast APIs; an explicit 0 is a
    cap, and the right coordinate columns come as a pair or not at all."""
    if (right_lon is None) != (right_lat is None):
        raise ValueError(f"{api}: give both right_lon and right_lat, or neither")
    return BROADCAST_RIGHT_LIMIT if max_right_rows is None else max_right_rows


# ---------------------------------------------------------------------------
# batch-level probe (runs inside the Python worker)
# ---------------------------------------------------------------------------

def _probe_batch_points(tree: STRtree, xs, ys, predicate, distance):
    """Vectorized two-phase probe for point batches.

    Phase 1: per-point envelope candidates from the tree.
    Phase 2: group candidate pairs by tree geometry, one vectorized
    kernel call per geometry (ray-cast PIP / distance)."""
    n = len(xs)
    pad = distance if predicate == "dwithin" else 0.0
    cand = _point_candidates(tree, xs, ys, pad)
    if cand is None:
        cand_l, cand_r = [], []
        for i in range(n):
            x, y = xs[i], ys[i]
            if np.isnan(x):
                continue
            pos = tree._query_box(x - pad, y - pad, x + pad, y + pad)
            if len(pos):
                cand_l.append(np.full(len(pos), i, dtype=np.int64))
                cand_r.append(pos)
        if not cand_l:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        cl = np.concatenate(cand_l)
        cr = np.concatenate(cand_r)
    else:
        cl, cr = cand
    if not len(cl):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    if predicate is None:
        return cl, tree._idx[cr]
    # all-point tree: ONE vectorized hypot over the candidate pairs
    # replaces the argsort + per-tree-geometry Python loop (r6, guide
    # §4.2 — the loop's per-geometry dispatch dominated dwithin joins
    # against point layers).  Semantics identical to
    # point_predicate_mask on a point geometry: distance <= d for
    # dwithin, vertex coincidence (<= 1e-12) for intersects/within/
    # covered_by, never True for touches.
    tp = _tree_point_coords(tree)
    if tp is not None:
        txs, tys = tp
        d = np.hypot(xs[cl] - txs[cr], ys[cl] - tys[cr])
        if predicate == "dwithin":
            keep = d <= distance
        elif predicate in ("intersects", "within", "covered_by"):
            keep = d <= 1e-12
        else:  # touches: a point never touches a point
            keep = np.zeros(len(cl), dtype=bool)
        return cl[keep], tree._idx[cr[keep]]
    order = np.argsort(cr, kind="stable")
    cl, cr = cl[order], cr[order]
    uniq, starts = np.unique(cr, return_index=True)
    ends = np.append(starts[1:], len(cr))
    keep_l, keep_r = [], []
    for u, s, e in zip(uniq, starts, ends):
        g = tree._geoms[tree._idx[u]]
        px, py = xs[cl[s:e]], ys[cl[s:e]]
        m = point_predicate_mask(g, px, py, predicate, distance)
        hit = np.nonzero(m)[0]
        if len(hit):
            keep_l.append(cl[s:e][hit])
            keep_r.append(np.full(len(hit), tree._idx[u], dtype=np.int64))
    if not keep_l:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(keep_l), np.concatenate(keep_r)


def point_predicate_mask(g, px, py, predicate, distance=None):
    """Vectorized predicate mask of a point batch against ONE decoded
    geometry — the "prepare once per geometry" kernel (reference
    src/strtree.c:286 prepared-probe semantics) shared by the
    broadcast probe and the cell-join refine."""
    if predicate == "dwithin":
        return K_m.points_to_geom_dist(px, py, g) <= distance
    if g.type_id in (3, 6, 7) or g.rings or any(
            p.type_id in (3,) for p in g.parts):
        inside, boundary = K_p.points_in_polygon(px, py, g)
        if predicate == "intersects" or predicate == "covered_by":
            return inside | boundary
        if predicate == "within":
            return inside
        if predicate == "touches":
            return boundary
        return np.zeros(len(px), dtype=bool)
    segs = K_m.segments(g)
    if len(segs):
        on_line = K_m.points_to_segments_dist(px, py, segs) <= 1e-12
        if predicate in ("intersects", "covered_by"):
            return on_line
        if predicate == "within":
            bpts = K_p._line_boundary_points(g)
            m = on_line.copy()
            if len(bpts):
                d = np.hypot(px[:, None] - bpts[None, :, 0],
                             py[:, None] - bpts[None, :, 1])
                m &= ~(d <= 1e-12).any(axis=1)
            return m
        if predicate == "touches":
            bpts = K_p._line_boundary_points(g)
            m = np.zeros(len(px), dtype=bool)
            if len(bpts):
                d = np.hypot(px[:, None] - bpts[None, :, 0],
                             py[:, None] - bpts[None, :, 1])
                m = (d <= 1e-12).any(axis=1)
            return m
        return np.zeros(len(px), dtype=bool)
    # point tree geometry
    gv = K_m.vertices(g)
    d = np.hypot(px[:, None] - gv[None, :, 0], py[:, None] - gv[None, :, 1])
    eq = (d <= 1e-12).any(axis=1)
    return eq if predicate in ("intersects", "within", "covered_by") else \
        np.zeros(len(px), dtype=bool)


def _tree_point_coords(tree: STRtree):
    """(txs, tys) per tree ITEM POSITION when every indexed geometry is
    a single non-empty point, else None; cached on the (per-worker,
    broadcast-deserialized) tree object.  Point items have degenerate
    envelopes, so the coordinates are the boxes' min corners — no
    geometry walk needed beyond the one-time type check."""
    if getattr(tree, "_points_only", False):
        return ((tree._boxes[:, 0], tree._boxes[:, 1])
                if len(tree._idx) else None)
    cached = getattr(tree, "_point_coords_cache", None)
    if cached is not None:
        return cached[0]
    coords = None
    if len(tree._idx):
        all_pts = all(
            (g := tree._geoms[i]).type_id == 0 and not g.is_empty
            and g.coords is not None and len(g.coords) == 1
            for i in tree._idx)
        if all_pts:
            coords = (tree._boxes[:, 0], tree._boxes[:, 1])
    tree._point_coords_cache = (coords,)
    return coords


def _tree_cell_index(tree: STRtree, pad: float):
    """Cell-bucketed envelope index over the tree items, cached on the
    (per-worker, broadcast-deserialized) tree object.  Maps quad-grid
    cell -> candidate item positions; candidate lookup for a whole
    point batch is then two vectorized searchsorted calls instead of an
    O(items × points) bbox sweep — this is what keeps the probe
    memory-bandwidth-light and lets it scale with cores."""
    key = ("cellidx", round(float(pad), 9))
    cached = getattr(tree, "_cell_index_cache", None)
    if cached is not None and cached[0] == key:
        return cached[1]
    b = tree._boxes
    if not len(b):
        return None
    # pick the FINEST resolution whose per-item cell fan-out stays
    # within budget: finer cells mean fewer items per cell, so each
    # probe point gathers fewer false candidates — candidate volume
    # (the gather's memory traffic, the scaling bottleneck) drops
    # roughly linearly with cell area until the fan-out cap bites
    w = np.median(b[:, 2] - b[:, 0]) + 2 * pad
    h = np.median(b[:, 3] - b[:, 1]) + 2 * pad
    span = max(min(360.0, max(w * 2, 1e-9)), min(180.0, max(h, 1e-9)) * 2)
    res = int(np.clip(np.floor(np.log2(360.0 / span)) + 3, 0, 14))
    from .kernel.cell import MAX_RES  # noqa: F401  (res bounded above)
    while True:
        n_side = 1 << res
        ix0 = np.clip(np.floor((b[:, 0] - pad + 180.0) / 360.0 * n_side), 0, n_side - 1).astype(np.int64)
        ix1 = np.clip(np.floor((b[:, 2] + pad + 180.0) / 360.0 * n_side), 0, n_side - 1).astype(np.int64)
        iy0 = np.clip(np.floor((b[:, 1] - pad + 90.0) / 180.0 * n_side), 0, n_side - 1).astype(np.int64)
        iy1 = np.clip(np.floor((b[:, 3] + pad + 90.0) / 180.0 * n_side), 0, n_side - 1).astype(np.int64)
        counts = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
        if counts.sum() <= 64 * len(b) or res == 0:
            break
        res -= 1
    cells_l, pos_l = [], []
    for u in range(len(b)):
        xs_r = np.arange(ix0[u], ix1[u] + 1)
        ys_r = np.arange(iy0[u], iy1[u] + 1)
        cc = (ys_r[:, None] * np.int64(n_side) + xs_r[None, :]).ravel()
        cells_l.append(cc)
        pos_l.append(np.full(len(cc), u, dtype=np.int64))
    cells = np.concatenate(cells_l)
    pos = np.concatenate(pos_l)
    order = np.argsort(cells, kind="stable")
    index = (res, cells[order], pos[order])
    tree._cell_index_cache = (key, index)
    return index


def _point_candidates(tree: STRtree, xs, ys, pad: float):
    """Vectorized candidate (point_row, item_pos) pairs via the cell
    index + exact envelope filter.  Returns None when a per-point tree
    walk is the better plan (no items)."""
    idx = _tree_cell_index(tree, pad)
    if idx is None:
        return None
    res, cells_sorted, pos_sorted = idx
    n_side = 1 << res
    ix = np.clip(np.floor((np.nan_to_num(xs, nan=1e9) + 180.0) / 360.0 * n_side),
                 0, n_side - 1).astype(np.int64)
    iy = np.clip(np.floor((np.nan_to_num(ys, nan=1e9) + 90.0) / 180.0 * n_side),
                 0, n_side - 1).astype(np.int64)
    pc = iy * np.int64(n_side) + ix
    pc[np.isnan(xs)] = -1
    lo = np.searchsorted(cells_sorted, pc, side="left")
    hi = np.searchsorted(cells_sorted, pc, side="right")
    counts = hi - lo
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    # int32 gather indices: half the memory traffic of int64 (the
    # gather dominates the probe's DRAM footprint at high parallelism);
    # fall back to int64 above 2^31 candidates/positions — a silent
    # wrap would return wrong pairs instead of failing loudly
    gdt = np.int32 if (total <= np.iinfo(np.int32).max
                       and len(pos_sorted) <= np.iinfo(np.int32).max) else np.int64
    cl = np.repeat(np.arange(len(xs), dtype=gdt), counts)
    starts = np.repeat(lo.astype(gdt), counts)
    csum = (np.cumsum(counts) - counts).astype(gdt)
    intra = np.arange(total, dtype=gdt) - np.repeat(csum, counts)
    cr = pos_sorted[starts + intra]
    # exact envelope filter (cells over-approximate)
    b = tree._boxes
    px, py = xs[cl], ys[cl]
    keep = (px >= b[cr, 0] - pad) & (px <= b[cr, 2] + pad) \
        & (py >= b[cr, 1] - pad) & (py <= b[cr, 3] + pad)
    return cl[keep], cr[keep]


def probe_batch(tree: STRtree, wkbs, predicate=None, distance=None):
    """query_bulk over one Arrow batch of WKB geometries -> (row_pos,
    tree_item_index) arrays.  Point batches go fully vectorized."""
    arr = np.asarray([None if v is None else (v if isinstance(v, bytes) else bytes(v))
                      for v in wkbs], dtype=object)
    xs, ys = K_wkb.decode_points(arr)
    all_points = bool(np.all(np.isnan(xs) == np.array([v is None for v in arr])))
    if all_points and (predicate in _POINT_FAST_PREDICATES or predicate is None):
        return _probe_batch_points(tree, xs, ys, predicate, distance)
    geoms = [SG._loads_safe(v) for v in arr]
    pairs = tree.query_bulk(geoms, predicate=predicate, distance=distance)
    return pairs[0], pairs[1]


# ---------------------------------------------------------------------------
# broadcast STRtree join
# ---------------------------------------------------------------------------

def broadcast_spatial_join(left: DataFrame, right: DataFrame, *,
                           predicate: str = "intersects",
                           left_geom: str = "geom", right_geom: str = "geom",
                           right_id: str = "right_id",
                           distance: float | None = None,
                           leafsize: int = 10,
                           max_right_rows: int | None = None) -> DataFrame:
    """Inner spatial join, right side broadcast as an STRtree.

    Output = all left columns + ``right_id``.  Join the result back to
    ``right`` (a broadcast hash join — it is small by construction) to
    attach more right columns."""
    if predicate is not None and predicate != "dwithin" and predicate not in PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}; one of {sorted(k for k in PREDICATES if k)}")
    rows = _collect_right(right, [right_id, right_geom],
                          BROADCAST_RIGHT_LIMIT if max_right_rows is None
                          else max_right_rows, "broadcast_spatial_join")
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    geoms = [SG._loads_safe(r[1]) for r in rows]
    tree = STRtree(geoms, leafsize=leafsize)
    bc = left.sparkSession.sparkContext.broadcast((tree, ids))

    out_schema = T.StructType(left.schema.fields + [T.StructField(right_id, T.LongType())])
    geom_pos = left.columns.index(left_geom)

    def run(batches):
        tree_l, ids_l = bc.value  # deserialized once per worker
        for pdf in batches:
            li, ri = probe_batch(tree_l, pdf.iloc[:, geom_pos].to_numpy(),
                                 predicate=predicate, distance=distance)
            out = pdf.iloc[li].reset_index(drop=True)
            out[right_id] = ids_l[ri]
            yield out

    return left.mapInPandas(run, schema=out_schema)


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
    numeric columns named in ``keep`` (+ lon/lat) cross the Python
    boundary, WKB encoding is skipped entirely, and the cell id is
    computed in the same crossing (``cell_res``).

    ``right_lon``/``right_lat`` (r6): when the RIGHT side is also
    points, collect its coordinate doubles instead of WKB — the
    broadcast then carries three numpy arrays, not a list of Python
    geometry objects, which removes the per-query job that evaluated
    st_point and the 10k-object pickle from the driver path (guide §5:
    the driver should do almost no data work).

    Output: keep columns + [cell] + right_id.  At 10^12 rows this is
    the plan that matters: one Arrow roundtrip of ~16 bytes/row plus the
    keep columns, which the worker gathers with Arrow ``take`` — they
    never become pandas/Python objects."""
    limit = _right_limit(max_right_rows, right_lon, right_lat,
                         "broadcast_lonlat_join")
    if right_lon is not None:
        rows = _collect_right(right, [right_id, right_lon, right_lat],
                              limit, "broadcast_lonlat_join")
        ids = np.asarray([r[0] for r in rows], dtype=np.int64)
        rx = np.fromiter((np.nan if r[1] is None else r[1]
                          for r in rows), np.float64, count=len(rows))
        ry = np.fromiter((np.nan if r[2] is None else r[2]
                          for r in rows), np.float64, count=len(rows))
        tree = STRtree.from_points(rx, ry)
    else:
        rows = _collect_right(right, [right_id, right_geom], limit,
                              "broadcast_lonlat_join")
        ids = np.asarray([r[0] for r in rows], dtype=np.int64)
        geoms = [SG._loads_safe(r[1]) for r in rows]
        tree = STRtree(geoms)
    bc = left.sparkSession.sparkContext.broadcast((tree, ids))
    keep = keep or []
    cols = keep + [lon, lat]
    src = left.select(*cols)
    fields = [src.schema[c] for c in keep]
    if cell_res is not None:
        fields.append(T.StructField("cell", T.LongType(), False))
    fields.append(T.StructField(right_id, T.LongType()))
    out_schema = T.StructType(fields)
    n_keep = len(keep)

    def run(batches):
        # Arrow in, Arrow out: keep columns are gathered with take(),
        # so strings never become Python objects
        import pyarrow as pa
        from .kernel.cell import cell_of
        tree_l, ids_l = bc.value
        for b in batches:
            xs, ys = (b.column(i).to_numpy(zero_copy_only=False)   # NULL -> NaN
                      .astype(np.float64, copy=False) for i in (n_keep, n_keep + 1))
            li, ri = _probe_batch_points(tree_l, xs, ys, predicate, distance)
            take = pa.array(li, type=pa.int64())
            out = [b.column(i).take(take) for i in range(n_keep)]
            if cell_res is not None:
                out.append(pa.array(cell_of(xs[li], ys[li], cell_res), type=pa.int64()))
            out.append(pa.array(ids_l[ri], type=pa.int64()))
            yield pa.RecordBatch.from_arrays(out, names=out_schema.fieldNames())

    return src.mapInArrow(run, schema=out_schema)


# ---------------------------------------------------------------------------
# two-phase cell equi-join
# ---------------------------------------------------------------------------

def cell_spatial_join(left: DataFrame, right: DataFrame, *,
                      predicate: str = "intersects",
                      left_geom: str = "geom", right_geom: str = "geom",
                      left_id: str = "left_id", right_id: str = "right_id",
                      res: int = 7, distance: float | None = None,
                      left_is_points: bool = False,
                      pattern: str | None = None) -> DataFrame:
    """Large✕large spatial join: coarse cell equi-join (Catalyst
    sort-merge; AQE skew split) + exact refine + pair dedup.

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

    The candidate shuffle carries ONLY ids (+16 B of lon/lat doubles on
    the point path) — never WKB; geometries are equi-joined back by id
    after the candidate stage, and the refine decodes each right
    geometry ONCE per group (the broadcast path's per-geometry
    "prepare" trick) instead of re-parsing WKB per candidate pair.
    Pair dedup runs on the id-only frame (and, for exploded covers,
    again after the selective refine), so no full-width exchange ever
    happens.

    ``left_is_points=True`` is an opt-in fast path (single-cell
    assignment, 16 B lon/lat carried through the candidate shuffle,
    vectorized point refine) that is only correct when EVERY left
    geometry is a point — the general default handles any geometry
    (a polygon left under the point path would silently yield NaN
    coordinates and drop rows, so correctness must be the default)."""
    if predicate == "relate_pattern":
        if left_is_points:
            raise ValueError("relate_pattern uses the general-geometry "
                             "refine; call with left_is_points=False")
        _check_join_pattern(pattern)
    elif pattern is not None:
        raise ValueError("pattern is only valid with predicate='relate_pattern'")
    id_fields = [T.StructField("_lid", left.schema[left_id].dataType),
                 T.StructField("_rid", right.schema[right_id].dataType)]
    rg = right.select(F.col(right_id).alias("_rid"),
                      F.col(right_geom).alias("_rgeom"))
    r = right.select(F.col(right_id).alias("_rid"),
                     F.explode(SG.st_cell_cover(right[right_geom], res)).alias("_cell"))

    if left_is_points:
        if distance is None:
            # points have exactly one cell: no array, no explode — one UDF
            l = left.select(F.col(left_id).alias("_lid"),
                            SG.st_x(left[left_geom]).alias("_lx"),
                            SG.st_y(left[left_geom]).alias("_ly"),
                            SG.st_cell(left[left_geom], res).alias("_cell"))
        else:
            l = left.select(F.col(left_id).alias("_lid"),
                            SG.st_x(left[left_geom]).alias("_lx"),
                            SG.st_y(left[left_geom]).alias("_ly"),
                            F.explode(_left_cells(left[left_geom], res, distance,
                                                  True)).alias("_cell"))
        cand = l.join(r, "_cell").select("_lid", "_rid", "_lx", "_ly")
        if distance is not None:
            cand = cand.dropDuplicates(["_lid", "_rid"])
        joined = cand.join(rg, "_rid")
        refine = _cell_refine_points(predicate, distance,
                                     T.StructType(id_fields))
        out = joined.mapInPandas(refine, schema=T.StructType(id_fields))
    else:
        lcell = F.explode(_left_cells(left[left_geom], res, distance,
                                      False)).alias("_cell")
        l = left.select(F.col(left_id).alias("_lid"), lcell)
        cand = (l.join(r, "_cell").select("_lid", "_rid")
                .dropDuplicates(["_lid", "_rid"]))
        lg = left.select(F.col(left_id).alias("_lid"),
                         F.col(left_geom).alias("_lgeom"))
        joined = cand.join(rg, "_rid").join(lg, "_lid")
        refine = _cell_refine_geoms(predicate, distance,
                                    T.StructType(id_fields), pattern)
        out = joined.mapInPandas(refine, schema=T.StructType(id_fields))
    return out.select(F.col("_lid").alias(left_id),
                      F.col("_rid").alias(right_id))


def _cell_refine_points(predicate, distance, schema):
    """Grouped refine for point✕geometry candidates: decode each right
    geometry once per batch group, one vectorized kernel call over all
    its candidate points."""
    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            px = pdf["_lx"].to_numpy(dtype=np.float64)
            py = pdf["_ly"].to_numpy(dtype=np.float64)
            raw = pdf["_rgeom"].to_numpy()
            keep = np.zeros(len(pdf), dtype=bool)
            for _rid, idx in pdf.groupby("_rid", sort=False).indices.items():
                g = SG._loads_safe(raw[idx[0]])
                if g is None or g.is_empty:
                    continue
                keep[idx] = point_predicate_mask(g, px[idx], py[idx],
                                                 predicate, distance)
            yield pdf.loc[keep, ["_lid", "_rid"]]
    return run


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


def _cell_refine_geoms(predicate, distance, schema, pattern=None):
    """Grouped refine for general geometry candidates.

    Each DISTINCT left geometry is decoded + prepared (vertex/segment
    stacks) once per Arrow batch; each right geometry once per group.
    Candidates pass a vectorized bbox prefilter, then `intersects` /
    `dwithin` go through the many-vs-one batch kernel
    (kernel.predicates.batch_predicate_one — owner-block vectorized, no
    per-pair Python); other predicates fall back to the exact scalar
    kernels over the bbox survivors only.  ``relate_pattern`` gates on
    the vectorized intersects pass (sound because join patterns must
    require intersection, _check_join_pattern) and computes the exact
    DE-9IM matrix only for intersecting pairs."""
    if predicate == "relate_pattern":
        from .kernel import relate as K_rel
        fn = lambda a, g: K_rel.relate_pattern(a, g, pattern)  # noqa: E731
    else:
        fn = K_p.dwithin if predicate == "dwithin" else PREDICATES[predicate]
    pad = float(distance) if predicate == "dwithin" else 0.0

    def run(batches):
        for pdf in batches:
            # null _lid would factorize to code -1 and corrupt the
            # first[]-gather below (ADVICE r3) — such rows can never
            # satisfy a predicate anyway, drop them up front
            pdf = pdf[pdf["_lid"].notna()]
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            rraw = pdf["_rgeom"].to_numpy()
            lraw = pdf["_lgeom"].to_numpy()
            codes, uniq_rows = pd.factorize(pdf["_lid"].to_numpy())
            first = np.zeros(len(uniq_rows), dtype=np.int64)
            seen, fidx = np.unique(codes, return_index=True)
            first[seen] = fidx
            lgeoms = [SG._loads_safe(lraw[i]) for i in first]
            prep = K_p.prepare_batch_lefts(lgeoms)
            lb = prep["bounds"]
            keep = np.zeros(len(pdf), dtype=bool)
            for _rid, idx in pdf.groupby("_rid", sort=False).indices.items():
                g = SG._loads_safe(rraw[idx[0]])
                if g is None or g.is_empty:
                    continue
                gc = codes[idx]
                gb = g.bounds()
                if np.isnan(gb[0]):
                    continue
                b = lb[gc]
                alive = ~(np.isnan(b[:, 0])
                          | (b[:, 2] + pad < gb[0]) | (gb[2] + pad < b[:, 0])
                          | (b[:, 3] + pad < gb[1]) | (gb[3] + pad < b[:, 1]))
                if not alive.any():
                    continue
                sel = gc[alive]
                if predicate == "relate_pattern":
                    # batch intersects gate: a join pattern requires
                    # intersection, so only survivors can match
                    hits = K_p.batch_predicate_one(prep, sel, g,
                                                   "intersects")
                    mask = np.zeros(len(sel), dtype=bool)
                    for i in np.nonzero(hits)[0]:
                        a = lgeoms[sel[i]]
                        if a is not None and not a.is_empty:
                            mask[i] = fn(a, g)
                else:
                    mask = K_p.batch_predicate_one(prep, sel, g, predicate,
                                                   distance)
                rows = idx[alive]
                if mask is not None:
                    keep[rows] = mask
                else:
                    for j, c in zip(rows, sel):
                        a = lgeoms[c]
                        if a is None or a.is_empty:
                            continue
                        keep[j] = fn(a, g, distance) \
                            if predicate == "dwithin" else fn(a, g)
            yield pdf.loc[keep, ["_lid", "_rid"]]
    return run


def _left_cells(geom_col, res, distance, is_points):
    if distance is None:
        if is_points:
            return F.array(SG.st_cell(geom_col, res))
        return SG.st_cell_cover(geom_col, res)
    # dwithin: expand by k rings
    h = 180.0 / (1 << res)
    k = int(np.ceil(distance / h))

    import pandas as pd  # noqa: F811
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.LongType()))
    def _expand(b: pd.Series) -> pd.Series:
        # per-geometry cover (decode is inherently per-row), then ONE
        # batch-vectorized k-ring over the flattened cover cells (r4 —
        # no per-cell Python k_ring loop)
        covers, rows = [], []
        out: list = [None] * len(b)
        for i, v in enumerate(b):
            g = SG._loads_safe(v) if v is not None else None
            if g is None:
                continue
            base = K_cell.cover_to_res(K_cell.cover(g, res), res)
            if len(base):
                covers.append(np.asarray(base, np.int64))
                rows.append(np.full(len(base), i, np.int64))
        if covers:
            flat = np.concatenate(covers)
            rix = np.concatenate(rows)
            ring, valid = K_cell.k_ring_batch(flat, k)
            counts = np.bincount(rix, minlength=len(b)) * ring.shape[1]
            ring_rows = np.repeat(rix, ring.shape[1])
            order = np.argsort(ring_rows, kind="stable")
            rflat = ring.ravel()[order]
            vflat = valid.ravel()[order]
            bounds = np.cumsum(counts)[:-1]
            for i, (rs, vs) in enumerate(zip(np.split(rflat, bounds),
                                             np.split(vflat, bounds))):
                if len(rs):
                    out[i] = np.unique(rs[vs])
        return pd.Series(out, dtype=object)

    return _expand(geom_col)


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
