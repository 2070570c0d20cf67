"""Tests of the benchmark itself: input determinism, the WKB packer, the
metric names in BENCHMARK.json, and the output checker.  No Spark.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import reference as R  # noqa: E402
import run  # noqa: E402
from spark_geo.kernel import wkb as K_wkb  # noqa: E402


def _files(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(inputs.MAKERS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    make = inputs.MAKERS[workload]
    inputs.write_tables(make(7)["tables"], str(tmp_path / "a"))
    inputs.write_tables(make(7)["tables"], str(tmp_path / "b"))
    inputs.write_tables(make(8)["tables"], str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_point_packer_round_trips_through_engine_decoder():
    rng = np.random.default_rng(3)
    x, y = rng.uniform(-180, 180, 1000), rng.uniform(-90, 90, 1000)
    wkb = np.array(inputs.pack_points(x, y), dtype=object)
    dx, dy = K_wkb.decode_points(wkb)
    assert np.array_equal(dx, x) and np.array_equal(dy, y)


def test_polygon_packer_round_trips_through_engine_decoder():
    stars = inputs.make_pages_pip(1)["truth"]["stars"]
    for i, b in enumerate(stars.wkb()[:20]):
        g = K_wkb.loads(b)
        ring = g.rings[0]
        assert np.array_equal(ring[:-1, 0], stars.xs[i])
        assert np.array_equal(ring[:-1, 1], stars.ys[i])
        x, y = inputs.unpack_polygon(b)
        assert np.array_equal(x, ring[:, 0]) and np.array_equal(y, ring[:, 1])


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(inputs.MAKERS)


def test_star_sector_test_matches_brute_force_ray_casting():
    stars = inputs.make_point_cell(2)["truth"]["stars"]
    rng = np.random.default_rng(5)
    for i in range(0, len(stars), 37):
        x0, y0, x1, y1 = stars.bounds[i]
        px, py = rng.uniform(x0, x1, 500), rng.uniform(y0, y1, 500)
        xs, ys = stars.xs[i], stars.ys[i]
        inside = np.zeros(500, bool)
        for a in range(len(xs)):  # even-odd ray casting, one edge at a time
            ax, ay, bx, by = xs[a], ys[a], xs[a - 1], ys[a - 1]
            cross = (ay > py) != (by > py)
            xint = ax + (py - ay) * (bx - ax) / np.where(by == ay, 1, by - ay)
            inside ^= cross & (px < xint)
        assert np.array_equal(stars.contains(i, px, py), inside)


def test_grid_pairs_match_brute_force():
    rng = np.random.default_rng(9)
    lx, ly = rng.uniform(0, 5, 300), rng.uniform(0, 5, 300)
    rx, ry = rng.uniform(0, 5, 400), rng.uniform(0, 5, 400)
    li, ri, _ = R.grid_pairs(lx, ly, rx, ry, 0.3)
    bl, br = np.nonzero(np.hypot(lx[:, None] - rx[None], ly[:, None] - ry[None]) <= 0.3)
    assert set(zip(li.tolist(), ri.tolist())) == set(zip(bl.tolist(), br.tolist()))


@pytest.fixture(scope="module")
def pages():
    data = inputs.make_pages_pip(4)
    return data, R.pages_reference(data["truth"], 7, 10, 6)


def test_checker_accepts_reference_and_rejects_corrupted_flagship(pages):
    _, ref = pages
    rows = [(k, n, c) for k, (n, c) in ref["flagship"].items()]
    R.check_flagship(rows, ref["flagship"])
    bad = list(rows)
    bad[3] = (bad[3][0], bad[3][1] + 1, bad[3][2])
    with pytest.raises(R.Mismatch):
        R.check_flagship(bad, ref["flagship"])
    with pytest.raises(R.Mismatch):
        R.check_flagship(rows[1:], ref["flagship"])


def test_checker_rejects_corrupted_tiles(pages):
    _, ref = pages
    cells = np.array(sorted(ref["tiles"]), np.int64)
    x0, y0, x1, y1 = R.cell_box(cells)
    rows = [(int(c), ref["tiles"][int(c)],
             inputs.pack_polygon(np.array([x0[i], x1[i], x1[i], x0[i]]),
                                 np.array([y0[i], y0[i], y1[i], y1[i]])))
            for i, c in enumerate(cells)]
    R.check_tiles(rows, ref["tiles"], inputs.unpack_polygon)
    shifted = list(rows)
    c, n, _ = shifted[0]
    shifted[0] = (c, n, inputs.pack_polygon(np.array([x0[0], x1[0], x1[0], x0[0]]) + 1e-3,
                                            np.array([y0[0], y0[0], y1[0], y1[0]])))
    with pytest.raises(R.Mismatch):
        R.check_tiles(shifted, ref["tiles"], inputs.unpack_polygon)
    miscounted = [(rows[0][0], rows[0][1] + 1, rows[0][2])] + rows[1:]
    with pytest.raises(R.Mismatch):
        R.check_tiles(miscounted, ref["tiles"], inputs.unpack_polygon)


def test_checker_rejects_corrupted_rasterize(pages):
    data, _ = pages
    stars = data["truth"]["stars"]
    res = 6
    ix, iy = R.cell_ixy(stars.bounds[:, 0], stars.bounds[:, 1], res)
    cell = (np.int64(res) << 56) | (iy << 28) | ix
    rows = [(i, 3, 1.0, int(cell[i]), int(cell[i])) for i in range(len(stars))]
    R.check_rasterize(rows, len(stars), stars.bounds, res)
    with pytest.raises(R.Mismatch):
        R.check_rasterize([(0, 3, 0.97, rows[0][3], rows[0][4])] + rows[1:],
                          len(stars), stars.bounds, res)
    with pytest.raises(R.Mismatch):
        R.check_rasterize(rows[:-1], len(stars), stars.bounds, res)


def test_checker_rejects_corrupted_digest():
    want = R.digest([1, 2, 3], [10, 20, 30])
    R.check_digest(want, want, "pairs")
    with pytest.raises(R.Mismatch):
        R.check_digest(R.digest([1, 2, 3], [10, 20, 31]), want, "pairs")
    with pytest.raises(R.Mismatch):
        R.check_digest(R.digest([1, 2], [10, 20]), want, "pairs")
