"""Grid-bucketed nearest kernel (r6) must be result-identical to the
brute-force distance-matrix reference on every semantics axis: exact
minima, exact-equality ties, NaN probes, max_distance caps, duplicate
right coordinates, tiny/degenerate trees."""

import numpy as np
import pytest

from spark_geo.knn import _nearest_all_points, _nearest_all_points_matrix


def _canon(res):
    li, ri, dd = res
    order = np.lexsort((ri, li))
    return li[order], ri[order], dd[order]


def _check(xs, ys, txs, tys, tpos, md=None):
    a = _canon(_nearest_all_points_matrix(xs, ys, txs, tys, tpos, md))
    b = _canon(_nearest_all_points(xs, ys, txs, tys, tpos, md))
    assert np.array_equal(a[0], b[0])
    assert np.array_equal(a[1], b[1])
    assert np.array_equal(a[2], b[2])


@pytest.mark.parametrize("n,m,md,seed", [
    (3000, 1500, None, 0),
    (3000, 1500, 0.5, 1),
    (500, 65, None, 2),      # just above the matrix fallback cutoff
    (500, 64, None, 3),      # at the fallback cutoff
    (2000, 300, 0.01, 4),    # most probes miss the cap
    (100, 4000, None, 5),    # more items than probes
])
def test_grid_matches_matrix(n, m, md, seed):
    rng = np.random.RandomState(seed)
    # quarter-degree lattice coordinates force exact-equality ties
    xs = np.round(rng.uniform(-180, 180, n) * 4) / 4
    ys = np.round(rng.uniform(-90, 90, n) * 4) / 4
    txs = np.round(rng.uniform(-180, 180, m) * 4) / 4
    tys = np.round(rng.uniform(-90, 90, m) * 4) / 4
    tpos = rng.permutation(m).astype(np.int64)
    xs[::37] = np.nan
    ys[::53] = np.nan
    _check(xs, ys, txs, tys, tpos, md)


def test_duplicate_right_coords_all_tied():
    txs = np.array([0.0, 0.0, 0.0, 5.0] * 40)
    tys = np.array([0.0, 0.0, 0.0, 5.0] * 40)
    tpos = np.arange(160, dtype=np.int64)
    xs = np.array([0.25, 4.75, np.nan])
    ys = np.array([0.0, 5.0, 1.0])
    _check(xs, ys, txs, tys, tpos)


def test_identical_right_points_single_cell():
    # span collapses to the 1e-300 floor; the grid is one occupied cell
    txs = np.full(100, 3.25)
    tys = np.full(100, -7.5)
    tpos = np.arange(100, dtype=np.int64)
    xs = np.array([3.25, 100.0])
    ys = np.array([-7.5, 80.0])
    _check(xs, ys, txs, tys, tpos)


def test_probes_far_outside_grid():
    rng = np.random.RandomState(9)
    txs = rng.uniform(-1, 1, 300)
    tys = rng.uniform(-1, 1, 300)
    tpos = np.arange(300, dtype=np.int64)
    xs = np.array([179.0, -179.0, 0.0, 0.5])
    ys = np.array([89.0, -89.0, 45.0, 0.1])
    _check(xs, ys, txs, tys, tpos)
    _check(xs, ys, txs, tys, tpos, md=1.0)  # far probes excluded by cap


def test_empty_inputs():
    e = np.empty(0)
    ei = np.empty(0, np.int64)
    li, ri, dd = _nearest_all_points(e, e, e, e, ei, None)
    assert len(li) == len(ri) == len(dd) == 0
    li, ri, dd = _nearest_all_points(np.array([1.0]), np.array([2.0]),
                                     e, e, ei, None)
    assert len(li) == 0


def test_nan_right_points_ignored_not_poisoning():
    """A right point with a NaN coordinate must be ignored (it can
    never be nearest), not poison the grid extent or the matrix
    minima."""
    txs = np.array([0.0, np.nan, 2.0, 1.0])
    tys = np.array([0.0, 1.0, np.nan, 1.0])
    tpos = np.arange(4, dtype=np.int64)
    xs = np.array([0.1, 1.9])
    ys = np.array([0.0, 1.0])
    li, ri, dd = _nearest_all_points(xs, ys, txs, tys, tpos, None)
    assert set(zip(li.tolist(), ri.tolist())) == {(0, 0), (1, 3)}
    # big-tree grid path with a NaN row mixed in
    rng = np.random.RandomState(3)
    txs = rng.uniform(-10, 10, 300)
    tys = rng.uniform(-10, 10, 300)
    txs[7] = np.nan
    tpos = np.arange(300, dtype=np.int64)
    li, ri, dd = _nearest_all_points(xs, ys, txs, tys, tpos, None)
    assert len(li) >= 2 and 7 not in set(ri.tolist())


def test_huge_probe_coordinates_no_cast_warning():
    """Probes far outside the grid (lon 1e300, +/-inf) are clipped in
    the float domain before the int cast: no RuntimeWarning, and the
    answers still match the matrix reference.  cell_of clips the same
    way, landing such points on the edge cell like st_cell_lonlat."""
    import warnings
    from spark_geo.kernel.cell import cell_ixy, cell_of
    rng = np.random.RandomState(11)
    txs = rng.uniform(-1, 1, 300)
    tys = rng.uniform(-1, 1, 300)
    tpos = np.arange(300, dtype=np.int64)
    xs = np.array([1e300, -1e300, np.inf, 0.25])
    ys = np.array([0.0, 1e300, 0.0, 0.5])
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        li, ri, dd = _nearest_all_points(xs, ys, txs, tys, tpos, None)
        ix, iy = cell_ixy(cell_of(xs, ys, 7))
    assert set(li.tolist()) == {0, 1, 3}  # inf has no finite distance
    fin = np.isfinite(xs)
    _check(xs[fin], ys[fin], txs, tys, tpos)
    assert ix.tolist() == [127, 0, 127, 64]
    assert iy.tolist() == [64, 127, 64, 64]
