"""Raster <-> vector tile operations.

clip_to_tiles: the vector side — every polygon ring clipped to each
covering quadtree cell, emitting exploded per-tile path rows
(cell, polygon_id, part_id, path_idx, xs, ys). The Spark shape of the
reference's clip lifecycle (SURVEY.md §3.3): cover equi-join drives
which (cell, polygon) pairs exist; the clip kernel does the geometry.

raster_vector_agg: the raster side — per-cell image statistics joined
to the per-cell vector extraction, i.e. "which polygons cut through
this tile and what imagery landed there" in one cell-keyed join, the
canonical raster<->vector tile aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels.clip import clip_ring_to_rect
from ..layer import PolygonLayer
from ..tiles import cell_bounds
from .arrow_map import row_map
from .tile_ops import assign_tiles, tile_agg

__all__ = ["clip_to_tiles", "raster_vector_agg"]

CLIP_SCHEMA = (
    "cell long, polygon_id long, part_id int, path_idx int, "
    "xs array<double>, ys array<double>"
)


def clip_to_tiles(spark, layer: PolygonLayer, res: int,
                  num_partitions: int | None = None) -> DataFrame:
    """Exploded per-tile vector extraction of a polygon layer."""
    pids, cells = layer.cover_cells(res)
    if num_partitions is None:
        num_partitions = max(1, spark.sparkContext.defaultParallelism)
    cover = spark.createDataFrame(
        pd.DataFrame({"polygon_id": pids, "cell": cells})
    ).repartition(num_partitions)
    blayer = spark.sparkContext.broadcast(layer)

    def row(pid, cell):
        rect = [v[0] for v in cell_bounds(np.array([cell]))]
        return [
            (cell, pid, part_id, pi, xs, ys)
            for part_id, ring in enumerate(blayer.value.by_id(pid).rings)
            for pi, (xs, ys) in enumerate(clip_ring_to_rect(ring, *rect))
        ]

    return row_map(cover, ["polygon_id", "cell"], row, CLIP_SCHEMA)


def raster_vector_agg(spark, images: DataFrame, layer: PolygonLayer, res: int,
                      y: str = "lat", x: str = "lng") -> DataFrame:
    """Per-cell raster stats joined to per-cell vector extraction.

    Output: (cell, n_images, n_paths, n_polygons, total_vertices).
    Both sides key on the same cell id, so the join is a cell-local
    hash join; at scale both sides pre-partition on cell prefix.
    """
    raster = tile_agg(
        assign_tiles(images, res, y=y, x=x),
        aggs={"n_images": F.count(F.lit(1))},
    )
    vector = (
        clip_to_tiles(spark, layer, res)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.countDistinct("polygon_id").alias("n_polygons"),
            F.sum(F.size("xs")).alias("total_vertices"),
        )
    )
    return raster.join(vector, "cell", "full_outer").fillna(
        {"n_images": 0, "n_paths": 0, "n_polygons": 0, "total_vertices": 0}
    )
