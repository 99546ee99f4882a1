"""Degenerate-input insurance: empty layers, single polygons, empty
batches — the shapes a driver or production pipeline will hit."""

import numpy as np
import pandas as pd

import pytest

from segment_rtree_spark.kernels.pip import RingArena, points_in_polygon
from segment_rtree_spark.layer import PolygonLayer


def test_empty_layer_pip():
    layer = PolygonLayer.from_ring_rows([])
    q, pid, rel = layer.pip(np.array([1.0, 2.0]), np.array([1.0, 2.0]))
    assert len(q) == 0 and len(pid) == 0


def test_single_polygon_layer():
    layer = PolygonLayer.from_ring_rows(
        [(7, 0, [0.0, 0.0, 1.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0])]
    )
    q, pid, rel = layer.pip(np.array([0.5, 5.0]), np.array([0.5, 5.0]))
    assert q.tolist() == [0] and pid.tolist() == [7]


def test_empty_point_batch():
    layer = PolygonLayer.from_ring_rows(
        [(1, 0, [0.0, 0.0, 1.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0])]
    )
    q, pid, rel = layer.pip(np.array([]), np.array([]))
    assert len(q) == 0


def test_empty_arena():
    arena = RingArena([])
    rel = arena.query_pairs(np.array([1.0]), np.array([1.0]), np.array([], np.int64), np.array([], np.int64))
    assert len(rel) == 0


def test_ring_input_check():
    """Every ring entering a layer (hence its arena) is closed with >= 3
    coordinates."""
    with pytest.raises(ValueError, match="closed"):
        PolygonLayer.from_ring_rows([(1, 0, [0.0, 0.0, 1.0, 1.0], [0.0, 1.0, 1.0, 0.0])])
    with pytest.raises(ValueError, match="closed"):
        PolygonLayer.from_ring_rows([(1, 0, [0.0, 0.0], [0.0, 0.0])])
    shell = ([0.0, 0.0, 9.0, 9.0, 0.0], [0.0, 9.0, 9.0, 0.0, 0.0])
    with pytest.raises(ValueError, match="closed"):
        PolygonLayer.from_ring_rows([(1, 0, *shell), (1, 1, [1.0, 2.0, 2.0], [1.0, 2.0, 1.0])])


def test_polygon_no_holes_pip():
    poly = PolygonLayer.from_ring_rows(
        [(0, 0, np.array([0.0, 0.0, 2.0, 2.0, 0.0]), np.array([0.0, 2.0, 2.0, 0.0, 0.0]))]
    ).polygons[0]
    rel = points_in_polygon(np.array([1.0]), np.array([1.0]), poly)
    assert rel[0] == 2


def test_spark_empty_points_pip(spark):
    from segment_rtree_spark.operators.pip_join import pip_join_broadcast, pip_join_partitioned

    layer = PolygonLayer.from_ring_rows(
        [(1, 0, [0.0, 0.0, 1.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0])]
    )
    empty = spark.createDataFrame([], "pid long, lng double, lat double")
    assert pip_join_broadcast(empty, layer, keep=["pid"]).count() == 0
    assert pip_join_partitioned(empty, layer, keep=["pid"], res=4).count() == 0


def test_points_far_outside_all_cells(spark):
    from segment_rtree_spark.operators.pip_join import pip_join_partitioned

    layer = PolygonLayer.from_ring_rows(
        [(1, 0, [0.0, 0.0, 1.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0])]
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2], "lng": [100.0, -100.0], "lat": [50.0, -50.0]})
    )
    assert pip_join_partitioned(pts, layer, keep=["pid"], res=4).count() == 0
