"""kernel.grid: the CSR bucket gather and the envelope grid behind the
broadcast join's point probe."""

import warnings

import numpy as np
import pytest

from spark_geo import join as SJ
from spark_geo.kernel import grid as K_grid
from spark_geo.kernel import wkb as K_wkb
from spark_geo.kernel.geom import Geom
from spark_geo.kernel.strtree import STRtree


def test_gather_pairs_and_order():
    keys = np.array([1, 1, 3, 5, 5, 5])
    rows, items = K_grid.gather(keys, np.array([5, 0, 1, -1]), np.array([7, 8, 9, 10]))
    assert rows.tolist() == [7, 7, 7, 9, 9]
    assert items.tolist() == [3, 4, 5, 0, 1]
    assert items.dtype == np.int32
    rows, items = K_grid.gather(keys, np.array([2]))
    assert len(rows) == len(items) == 0


@pytest.mark.parametrize("predicate,distance", [
    (None, None), ("intersects", None), ("within", None), ("touches", None),
    ("contains", None), ("covers", None), ("dwithin", 0.75)])
def test_point_probe_matches_query_bulk_with_nonfinite_items(predicate, distance):
    """Right items with NaN coordinates stay out of the bucket index
    without a cast warning, and the vectorized point probe returns the
    pairs of the tree's own query_bulk."""
    rng = np.random.default_rng(5)
    geoms = [Geom.box(x, y, x + w, y + h) for x, y, w, h in zip(
        rng.uniform(-10, 10, 60), rng.uniform(-10, 10, 60),
        rng.uniform(0.2, 3, 60), rng.uniform(0.2, 3, 60))]
    geoms += [Geom.linestring([(0, 0), (np.nan, 1), (2, 2)]), Geom.point(np.nan, 1),
              Geom.linestring([(-4, -4), (4, 4)]), Geom.point(1.0, 1.0), None]
    tree = STRtree(geoms)
    xs = np.round(rng.uniform(-12, 12, 400) * 4) / 4
    ys = np.round(rng.uniform(-12, 12, 400) * 4) / 4
    xs[:3], ys[:3] = [1.0, 0.0, 2.0], [1.0, 0.0, 2.0]
    wkbs = [K_wkb.dumps(Geom.point(x, y)) for x, y in zip(xs, ys)] + [None]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        li, ri = SJ.probe_batch(tree, wkbs, predicate=predicate, distance=distance)
    want = tree.query_bulk([None if w is None else K_wkb.loads(w) for w in wkbs],
                           predicate=predicate, distance=distance)
    assert sorted(zip(li.tolist(), ri.tolist())) == sorted(map(tuple, want.T.tolist()))
    assert len(li) > 0 or predicate == "touches"
