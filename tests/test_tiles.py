"""Quadtree cell index tests: round-trips, hierarchy, SQL parity, polyfill."""

import duckdb
import numpy as np
import pytest

from segment_rtree_spark.tiles import (
    MAX_RES,
    cell_bounds,
    cell_children,
    cell_of,
    cell_of_sql,
    cell_parent,
    cell_parent_sql,
    cell_prefix,
    cell_prefix_sql,
    cell_res,
    polyfill,
)
from tests.test_kernels_pip import polygon


def rand_latlng(rng, n):
    return rng.uniform(-90, 90, n), rng.uniform(-180, 180, n)


def test_roundtrip_bounds():
    rng = np.random.default_rng(3)
    lat, lng = rand_latlng(rng, 2000)
    for res in (0, 1, 5, 12, MAX_RES):
        c = cell_of(lat, lng, res)
        assert (cell_res(c) == res).all()
        lngmin, latmin, lngmax, latmax = cell_bounds(c)
        assert (lngmin <= lng).all() and (lng < lngmax + 1e-9).all()
        assert (latmin <= lat).all() and (lat < latmax + 1e-9).all()
        # cell width is 360 / 2^res
        np.testing.assert_allclose(lngmax - lngmin, 360.0 / (1 << res))


def test_edge_clamping():
    c = cell_of(np.array([90.0, -90.0]), np.array([180.0, -180.0]), 10)
    assert (cell_res(c) == 10).all()


def test_parent_is_prefix():
    rng = np.random.default_rng(4)
    lat, lng = rand_latlng(rng, 1000)
    fine = cell_of(lat, lng, 15)
    for pres in (0, 3, 7, 14):
        coarse = cell_of(lat, lng, pres)
        np.testing.assert_array_equal(cell_parent(fine, pres), coarse)
    # prefix key is identical between resolutions (ancestor-prefix property)
    np.testing.assert_array_equal(cell_prefix(fine, 12), cell_prefix(cell_of(lat, lng, 9), 12))


def test_children_partition_parent():
    rng = np.random.default_rng(5)
    lat, lng = rand_latlng(rng, 200)
    parent = cell_of(lat, lng, 7)
    kids = cell_children(parent)
    assert kids.shape == (200, 4)
    # the child containing the original point is among the 4
    child = cell_of(lat, lng, 8)
    assert (kids == child[:, None]).any(axis=1).all()
    # every child's parent is the original cell
    for q in range(4):
        np.testing.assert_array_equal(cell_parent(kids[:, q], 7), parent)


def test_sql_matches_numpy():
    rng = np.random.default_rng(6)
    lat, lng = rand_latlng(rng, 500)
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lat": lat, "lng": lng}))
    for res in (0, 4, 9, 15, MAX_RES):
        want = cell_of(lat, lng, res)
        got = con.sql(
            f"select {cell_of_sql('lat', 'lng', res)} as c from pts"
        ).fetchnumpy()["c"]
        np.testing.assert_array_equal(got, want)
    # parent + prefix SQL parity
    sql = cell_parent_sql(cell_of_sql("lat", "lng", 15), 6)
    got = con.sql(f"select {sql} as c from pts").fetchnumpy()["c"]
    np.testing.assert_array_equal(got, cell_parent(cell_of(lat, lng, 15), 6))
    sql = cell_prefix_sql(cell_of_sql("lat", "lng", 15), 12)
    got = con.sql(f"select {sql} as c from pts").fetchnumpy()["c"]
    np.testing.assert_array_equal(got, cell_prefix(cell_of(lat, lng, 15), 12))


SQUARE = polygon([([10.0, 10.0, 30.0, 30.0, 10.0], [10.0, 30.0, 30.0, 10.0, 10.0])])


def test_polyfill_against_brute_force():
    res = 6
    cells = polyfill(SQUARE, res)
    # brute force: every res-6 cell whose rect intersects the square
    n = 1 << res
    got = set(cells.tolist())
    expect = set()
    for iy in range(n):
        for ix in range(n):
            lngmin = ix / n * 360 - 180
            latmin = iy / n * 180 - 90
            lngmax, latmax = lngmin + 360 / n, latmin + 180 / n
            if lngmin <= 30 and lngmax >= 10 and latmin <= 30 and latmax >= 10:
                lat_c = (latmin + latmax) / 2
                lng_c = (lngmin + lngmax) / 2
                expect.add(int(cell_of(np.array([lat_c]), np.array([lng_c]), res)[0]))
    assert got == expect


def test_polyfill_contained_subset():
    inter = set(polyfill(SQUARE, 7, "intersect").tolist())
    cont = set(polyfill(SQUARE, 7, "contained").tolist())
    assert cont and cont < inter


def test_polyfill_respects_holes():
    poly = polygon(
        [
            ([0.0, 0.0, 40.0, 40.0, 0.0], [0.0, 40.0, 40.0, 0.0, 0.0]),
            ([10.0, 10.0, 30.0, 30.0, 10.0], [10.0, 30.0, 30.0, 10.0, 10.0]),
        ]
    )
    cells = polyfill(poly, 7, "contained")
    lngmin, latmin, lngmax, latmax = cell_bounds(cells)
    # no contained cell may lie strictly inside the hole
    inside_hole = (lngmin > 10) & (lngmax < 30) & (latmin > 10) & (latmax < 30)
    assert not inside_hole.any()


def test_cover_rejects_bad_res_and_mode():
    """The cover BFS (cover_cells, polyfill) raises on a resolution
    outside [0, MAX_RES], as cell_of does, and on a mode other than
    'intersect'/'contained', instead of returning an empty or an
    intersect cover."""
    layer = SQUARE.layer
    for res in (-1, -5):
        with pytest.raises(ValueError, match="res"):
            layer.cover_cells(res)
        with pytest.raises(ValueError, match="res"):
            polyfill(SQUARE, res)
    for mode in ("contain", "Intersect", ""):
        with pytest.raises(ValueError, match="mode"):
            polyfill(SQUARE, 5, mode)
    assert polyfill(SQUARE, 0).tolist() == [0]  # the res-0 world cell
