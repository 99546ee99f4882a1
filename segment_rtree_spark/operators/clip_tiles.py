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

    def kernel(batches):
        lyr = blayer.value
        for pdf in batches:
            rows = {k: [] for k in ("cell", "polygon_id", "part_id", "path_idx", "xs", "ys")}
            cellv = pdf["cell"].to_numpy()
            lngmin, latmin, lngmax, latmax = cell_bounds(cellv)
            for r in range(len(pdf)):
                pid = int(pdf["polygon_id"].iloc[r])
                for part_id, ring in enumerate(lyr.by_id(pid).rings):
                    paths = clip_ring_to_rect(
                        ring, lngmin[r], latmin[r], lngmax[r], latmax[r]
                    )
                    for pi, (xs, ys) in enumerate(paths):
                        rows["cell"].append(int(cellv[r]))
                        rows["polygon_id"].append(pid)
                        rows["part_id"].append(part_id)
                        rows["path_idx"].append(pi)
                        rows["xs"].append(xs.tolist())
                        rows["ys"].append(ys.tolist())
            if not rows["cell"]:
                # A batch of interior-only cells produces zero clip paths;
                # an all-default pd.DataFrame would give xs/ys float64 dtype
                # and Arrow can't convert that to list<double>. Skip it.
                continue
            yield pd.DataFrame(
                {
                    "cell": pd.Series(rows["cell"], dtype="int64"),
                    "polygon_id": pd.Series(rows["polygon_id"], dtype="int64"),
                    "part_id": pd.Series(rows["part_id"], dtype="int32"),
                    "path_idx": pd.Series(rows["path_idx"], dtype="int32"),
                    "xs": pd.Series(rows["xs"], dtype="object"),
                    "ys": pd.Series(rows["ys"], dtype="object"),
                }
            )

    return cover.mapInPandas(kernel, CLIP_SCHEMA)


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
