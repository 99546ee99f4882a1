"""clip_to_tiles / raster_vector_agg end-to-end checks."""

import numpy as np
import pytest

from segment_rtree_spark.kernels.clip import clip_ring_to_rect
from segment_rtree_spark.layer import PolygonLayer
from segment_rtree_spark.operators.clip_tiles import clip_to_tiles, raster_vector_agg
from segment_rtree_spark.tiles import cell_bounds, cell_of


@pytest.fixture(scope="module")
def layer():
    return PolygonLayer.from_ring_rows(
        [
            (1, 0, [10.0, 10.0, 40.0, 40.0, 10.0], [10.0, 40.0, 40.0, 10.0, 10.0]),
            (1, 1, [20.0, 20.0, 30.0, 30.0, 20.0], [20.0, 30.0, 30.0, 20.0, 20.0]),
            (2, 0, [-60.0, -30.0, -45.0, -60.0], [-10.0, -10.0, 20.0, -10.0]),
        ]
    )


def test_clip_to_tiles_matches_local(spark, layer):
    res = 4
    out = clip_to_tiles(spark, layer, res).collect()
    assert out
    got = {}
    for r in out:
        got.setdefault((r["cell"], r["polygon_id"], r["part_id"]), []).append(
            (r["path_idx"], r["xs"], r["ys"])
        )
    # local oracle: clip each ring against each cover cell directly
    from segment_rtree_spark.tiles import polyfill

    for pid, poly in zip(layer.ids, layer.polygons):
        cells = polyfill(poly, res)
        for c in cells:
            lngmin, latmin, lngmax, latmax = (v.item() for v in cell_bounds(np.array([c])))
            for part_id, ring in enumerate(poly.rings):
                paths = clip_ring_to_rect(ring, lngmin, latmin, lngmax, latmax)
                key = (int(c), int(pid), part_id)
                if paths:
                    assert key in got, key
                    want = [(i, xs.tolist(), ys.tolist()) for i, (xs, ys) in enumerate(paths)]
                    assert sorted(got[key]) == want
                else:
                    assert key not in got


def test_clip_to_tiles_empty_batches(spark, layer):
    """Regression (round-1 driver crash): a cover batch whose cells are all
    polygon-interior yields zero clip paths; the kernel must not hand Arrow
    an untyped-empty xs/ys column (ArrowNotImplementedError at local[32]).
    One row per partition guarantees interior-only batches exist at res 6."""
    res = 6
    pids, cells = layer.cover_cells(res)
    n = len(cells)
    assert n > 4  # sanity: enough cover cells for one-row partitions
    wide = clip_to_tiles(spark, layer, res, num_partitions=2 * n).collect()
    narrow = clip_to_tiles(spark, layer, res, num_partitions=1).collect()
    key = lambda r: (r["cell"], r["polygon_id"], r["part_id"], r["path_idx"])
    assert sorted((key(r), r["xs"], r["ys"]) for r in wide) == sorted(
        (key(r), r["xs"], r["ys"]) for r in narrow
    )
    # and interior-only cells really exist (otherwise this test is vacuous)
    cells_with_paths = {(r["cell"], r["polygon_id"]) for r in wide}
    assert any((int(c), int(p)) not in cells_with_paths for p, c in zip(pids, cells))


def test_raster_vector_agg(spark, layer):
    from segment_rtree_spark.synth import images_df_fast

    imgs = images_df_fast(spark, 5000)
    out = raster_vector_agg(spark, imgs, layer, res=3).toPandas()
    assert (out["n_images"] > 0).any()
    assert (out["n_paths"] > 0).any()
    # cells covering polygon interiors must carry vector content
    assert out[out["n_polygons"] > 0]["total_vertices"].min() >= 2
