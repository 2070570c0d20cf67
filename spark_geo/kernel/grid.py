"""CSR bucket grid: items sorted by integer cell key, so a bucket is
one contiguous run and a whole batch of probe keys resolves to its
candidates with two ``searchsorted`` calls and one flat gather — the
one candidate gather of the broadcast join's point probe and the grid
nearest-neighbour kernel (spark_geo.knn)."""

from __future__ import annotations

import numpy as np

_I32 = np.iinfo(np.int32).max


def gather(sorted_keys, probe_keys, rows=None):
    """Every (row, i) with ``sorted_keys[i] == probe_keys[k]``; ``row``
    is ``rows[k]``, or ``k`` when ``rows`` is None.  Pairs come grouped
    by probe in probe order, each bucket in key-sorted item order."""
    lo = np.searchsorted(sorted_keys, probe_keys, side="left")
    hi = np.searchsorted(sorted_keys, probe_keys, side="right")
    counts = hi - lo
    total = int(counts.sum())
    # int32 gather indices: half the memory traffic of int64 (the
    # gather dominates the probe's DRAM footprint at high parallelism);
    # fall back to int64 above 2^31 candidates/positions — a silent
    # wrap would return wrong pairs instead of failing loudly
    gdt = np.int32 if total <= _I32 and len(sorted_keys) <= _I32 else np.int64
    if rows is None:
        rows = np.arange(len(probe_keys), dtype=gdt)
    csum = (np.cumsum(counts) - counts).astype(gdt)
    intra = np.arange(total, dtype=gdt) - np.repeat(csum, counts)
    return np.repeat(rows, counts), np.repeat(lo.astype(gdt), counts) + intra


class BoxGrid:
    """Lon/lat quad-grid bucket index over item envelopes ``boxes``
    ((m, 4) xmin, ymin, xmax, ymax), each padded by ``pad``.

    Items with a non-finite bound are left out: they have no cell, and
    a NaN bound fails every envelope comparison anyway."""

    def __init__(self, boxes, pad: float):
        self.boxes, self.pad = boxes, pad
        pos = np.nonzero(np.isfinite(boxes).all(axis=1))[0]
        b = boxes[pos]
        res = 0
        if len(b):
            # pick the FINEST resolution whose per-item cell fan-out
            # stays within budget: finer cells mean fewer items per
            # cell, so each probe point gathers fewer false candidates
            # — candidate volume (the gather's memory traffic) drops
            # roughly linearly with cell area until the fan-out cap bites
            w = np.median(b[:, 2] - b[:, 0]) + 2 * pad
            h = np.median(b[:, 3] - b[:, 1]) + 2 * pad
            span = max(min(360.0, max(w * 2, 1e-9)), min(180.0, max(h, 1e-9)) * 2)
            res = int(np.clip(np.floor(np.log2(360.0 / span)) + 3, 0, 14))
        while True:
            n_side = 1 << res
            ix0, iy0 = self._cell_xy(b[:, 0] - pad, b[:, 1] - pad, n_side)
            ix1, iy1 = self._cell_xy(b[:, 2] + pad, b[:, 3] + pad, n_side)
            # a negative pad can invert a box: such an item has no cell
            wx = np.maximum(ix1 - ix0 + 1, 0)
            counts = wx * np.maximum(iy1 - iy0 + 1, 0)
            if counts.sum() <= 64 * len(b) or res == 0:
                break
            res -= 1
        item = np.repeat(np.arange(len(b)), counts)
        off = np.arange(int(counts.sum())) - np.repeat(np.cumsum(counts) - counts, counts)
        cells = (iy0[item] + off // wx[item]) * np.int64(n_side) + ix0[item] + off % wx[item]
        order = np.argsort(cells, kind="stable")
        self.res, self.keys, self.pos = res, cells[order], pos[item[order]]

    @staticmethod
    def _cell_xy(x, y, n_side):
        # clip in the float domain before the int cast (no cast of an
        # out-of-range value)
        ix = np.clip(np.floor((x + 180.0) / 360.0 * n_side), 0, n_side - 1)
        iy = np.clip(np.floor((y + 90.0) / 180.0 * n_side), 0, n_side - 1)
        return ix.astype(np.int64), iy.astype(np.int64)

    def candidates(self, xs, ys):
        """(probe_row, item_index) pairs whose padded envelope holds the
        probe point; probes with a non-finite coordinate match nothing."""
        ok = np.isfinite(xs) & np.isfinite(ys)
        n_side = 1 << self.res
        ix, iy = self._cell_xy(np.where(ok, xs, 0.0), np.where(ok, ys, 0.0), n_side)
        keys = np.where(ok, iy * np.int64(n_side) + ix, -1)
        cl, k = gather(self.keys, keys)
        cr = self.pos[k]
        # exact envelope filter (cells over-approximate)
        b, pad = self.boxes, self.pad
        px, py = xs[cl], ys[cl]
        keep = (px >= b[cr, 0] - pad) & (px <= b[cr, 2] + pad) \
            & (py >= b[cr, 1] - pad) & (py <= b[cr, 3] + pad)
        return cl[keep], cr[keep]
