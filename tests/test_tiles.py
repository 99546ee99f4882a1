"""Quadtree cell index tests: round-trips, hierarchy, SQL parity, polyfill."""

import duckdb
import numpy as np
import pandas as pd
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
    con.register("pts", pd.DataFrame({"lat": lat, "lng": lng}))
    for res in range(MAX_RES + 1):
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


def test_parent_and_prefix_reject_out_of_range():
    """cell_parent / cell_parent_sql take a resolution in [0, MAX_RES]
    and cell_prefix / cell_prefix_sql a bit count in [0, 57] (the path
    bits above the res field), raising ValueError as cell_of does,
    instead of ORing a bad res into the id or emitting a negative
    shift that Java and NumPy read differently."""
    c = cell_of(np.array([10.0]), np.array([20.0]), 12)
    for bad in (-1, MAX_RES + 1):
        with pytest.raises(ValueError, match="parent_res"):
            cell_parent(c, bad)
        with pytest.raises(ValueError, match="parent_res"):
            cell_parent_sql("cell", bad)
    for bad in (-1, 58, 64):
        with pytest.raises(ValueError, match="prefix_bits"):
            cell_prefix(c, bad)
        with pytest.raises(ValueError, match="prefix_bits"):
            cell_prefix_sql("cell", bad)
    # the range ends are valid
    assert cell_parent(c, 0).tolist() == [0]
    np.testing.assert_array_equal(cell_parent(c, 12), c)
    assert cell_prefix(c, 0).tolist() == [0]
    np.testing.assert_array_equal(cell_prefix(c, 57), c >> 0)


def _edge_points(rng, n):
    """Random points plus the clamp edges: lng +-180, lat +-90."""
    lat, lng = rand_latlng(rng, n)
    edge_lat = np.array([90.0, -90.0, 90.0, -90.0, 0.0, 0.0, 90.0, -90.0])
    edge_lng = np.array([180.0, -180.0, -180.0, 180.0, 180.0, -180.0, 0.0, 0.0])
    return np.r_[lat, edge_lat], np.r_[lng, edge_lng]


def test_assign_tiles_matches_numpy_every_res(spark):
    """The staged Spark projection equals NumPy cell_of at every res,
    across the identity-step cutoffs (res 1, 2, 4, 8, 16) and at the
    clamp edges."""
    from segment_rtree_spark.operators.tile_ops import assign_tiles

    lat, lng = _edge_points(np.random.default_rng(7), 400)
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(lat)), "lat": lat, "lng": lng}))
    for res in range(MAX_RES + 1):
        df = assign_tiles(df, res, out=f"c{res}")
    assert df.columns == ["i", "lat", "lng"] + [f"c{r}" for r in range(MAX_RES + 1)]
    got = df.toPandas().sort_values("i")
    for res in range(MAX_RES + 1):
        np.testing.assert_array_equal(
            got[f"c{res}"].to_numpy(), cell_of(lat, lng, res), err_msg=f"res {res}"
        )


def test_assign_tiles_leaves_clashing_columns_unchanged(spark):
    """Columns named like assign_tiles' temporary grid-index columns
    (in any case) keep their values and positions; only `out` is added
    and no temporary column is left behind."""
    from segment_rtree_spark.operators.tile_ops import assign_tiles

    lat, lng = _edge_points(np.random.default_rng(8), 50)
    names = ["_ix", "_iy", "__IX", "__iy", "ix", "iy"]
    pdf = pd.DataFrame({"lat": lat, "lng": lng})
    for k, name in enumerate(names):
        pdf[name] = np.arange(len(lat)) * 10 + k
    out = assign_tiles(spark.createDataFrame(pdf), 9).toPandas()
    assert list(out.columns) == ["lat", "lng", *names, "cell"]
    for name in names:
        np.testing.assert_array_equal(out[name].to_numpy(), pdf[name].to_numpy())
    np.testing.assert_array_equal(out["cell"].to_numpy(), cell_of(lat, lng, 9))


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
