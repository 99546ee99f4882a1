"""Polygon <-> polygon overlap join (table-level dual-tree intersection).

The reference exposes the primitive (SegRTree::query_other_intersections,
rtree.rs:198-233 — candidate leaf pairs between two trees); this is its
TABLE altitude: given two polygon layers, emit every (a_id, b_id) pair
whose geometries meet, classified as

  * 'boundary' — some ring segment of A intersects some ring segment
    of B (touches count, exactly as reference intersect_segments
    utils.rs:73-126 counts endpoint hits);
  * 'a_in_b' / 'b_in_a' — no boundary contact, one polygon strictly
    inside the other (hole-aware: inside a hole is outside).

Plan shape: both layers polyfill to (id, cell) cover tables; the
candidate pairs are the DISTINCT cell-equi-join of the covers (two
polygons can only meet inside a cell both covers contain), then a
vectorized kernel refines each candidate with the dual-tree descent +
exact segment intersection + winding containment probes. The covers
shuffle on the cell key; no all-pairs product ever exists.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels.geom import intersect_segments
from ..kernels.pip import INTERIOR, points_in_polygon
from ..layer import PolygonLayer
from .arrow_map import row_map

__all__ = [
    "polygon_overlap_join",
    "polygon_overlap_join_packed",
    "polygon_overlap_join_rings",
]

OVERLAP_SCHEMA = "a_id long, b_id long, relation string"


def _boundaries_intersect(rings_a, rings_b) -> bool:
    for ra in rings_a:
        for rb in rings_b:
            ia, ib = ra.tree.query_other_intersections(rb.tree)
            if len(ia) == 0:
                continue
            hit, *_ = intersect_segments(
                ra.xs[ia], ra.ys[ia], ra.xs[ia + 1], ra.ys[ia + 1],
                rb.xs[ib], rb.ys[ib], rb.xs[ib + 1], rb.ys[ib + 1],
            )
            if hit.any():
                return True
    return False


def polygon_overlap_join(
    spark,
    layer_a: PolygonLayer,
    layer_b: PolygonLayer,
    res: int = 6,
) -> DataFrame:
    """Overlap pairs between two polygon layers; see module docstring."""
    pa, ca = layer_a.cover_cells(res)
    pb, cb = layer_b.cover_cells(res)
    cov_a = spark.createDataFrame(pd.DataFrame({"a_id": pa, "cell": ca}))
    cov_b = spark.createDataFrame(pd.DataFrame({"b_id": pb, "cell": cb}))
    pairs = cov_a.join(cov_b, "cell").select("a_id", "b_id").distinct()

    ba = spark.sparkContext.broadcast(layer_a)
    bb = spark.sparkContext.broadcast(layer_b)

    def row(aid, bid):
        return _pair_rows(aid, bid, ba.value.by_id(aid), bb.value.by_id(bid))

    return row_map(pairs, ["a_id", "b_id"], row, OVERLAP_SCHEMA)


def _pair_rows(aid, bid, pa_, pb_) -> list:
    """The output row of candidate pair (aid, bid) whose polygon views
    are pa_ and pb_, none when they do not meet: 'boundary' (dual-tree
    descent over their arena ring views + exact segment intersection),
    else 'a_in_b' / 'b_in_a' by one shell vertex's relation to the
    other polygon."""
    ra, rb = pa_.rings, pb_.rings
    if _boundaries_intersect(ra, rb):
        return [(aid, bid, "boundary")]
    if points_in_polygon(ra[0].xs[:1], ra[0].ys[:1], pb_)[0] == INTERIOR:
        return [(aid, bid, "a_in_b")]
    if points_in_polygon(rb[0].xs[:1], rb[0].ys[:1], pa_)[0] == INTERIOR:
        return [(aid, bid, "b_in_a")]
    return []


def polygon_overlap_join_packed(
    spark,
    layer_a: PolygonLayer,
    layer_b: PolygonLayer,
    res: int = 6,
) -> DataFrame:
    """Fully distributed overlap join: NEITHER layer broadcasts.

    Each polygon's packed ring coordinates ride its own cover table;
    the cell equi-join carries both packs to the candidate pair, a
    first()-aggregate dedups pairs that share several cells (one pack
    copy survives per pair), and the refine kernel unpacks each polygon
    into a one-polygon layer executor-side with a per-process memo.
    Identical output to polygon_overlap_join (tested); this is the
    10^6 x 10^6 shape —
    wire cost is packs-per-candidate-pair, never a broadcast."""
    from .pip_join import _pack_polygon

    def cover_df(layer, id_col):
        pids, cells = layer.cover_cells(res)
        packs = {int(p): _pack_polygon(layer.by_id(int(p))) for p in set(pids.tolist())}
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    id_col: pids,
                    "cell": cells,
                    f"pack_{id_col}": [packs[int(p)] for p in pids],
                }
            )
        )

    cov_a = cover_df(layer_a, "a_id")
    cov_b = cover_df(layer_b, "b_id")
    pairs = (
        cov_a.join(cov_b, "cell")
        .groupBy("a_id", "b_id")
        .agg(F.first("pack_a_id").alias("pa"), F.first("pack_b_id").alias("pb"))
    )
    return _refine_packed_pairs("polygon_overlap_join_packed", pairs)


def polygon_overlap_join_rings(
    spark,
    rings_a: DataFrame,
    rings_b: DataFrame,
    res: int = 6,
) -> DataFrame:
    """Overlap join where BOTH polygon sides are ring-row TABLES
    (polygon_id, part_id, xs, ys): covers+packs built executor-side
    (cover_from_rings), so no polygon layer ever exists on the driver
    — the fully table-native form. Same output as
    polygon_overlap_join (tested)."""
    from pyspark import StorageLevel

    from .pip_join import cover_from_rings

    cov_a = (
        cover_from_rings(rings_a, res)
        .withColumnRenamed("polygon_id", "a_id")
        .withColumnRenamed("pack", "pa")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cov_b = (
        cover_from_rings(rings_b, res)
        .withColumnRenamed("polygon_id", "b_id")
        .withColumnRenamed("pack", "pb")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = (
        cov_a.join(cov_b, "cell")
        .groupBy("a_id", "b_id")
        .agg(F.first("pa").alias("pa"), F.first("pb").alias("pb"))
    )
    return _refine_packed_pairs("polygon_overlap_join_rings", pairs)


def _refine_packed_pairs(op: str, pairs: DataFrame) -> DataFrame:
    """The packed overlap joins' refine, one row_map kernel named `op`."""
    from .pip_join import _unpack_polygon

    _memo: dict = {}

    def unpack(key, blob):
        if key not in _memo:
            _memo[key] = _unpack_polygon(blob)
        return _memo[key]

    def row(aid, bid, pa_b, pb_b):
        return _pair_rows(aid, bid, unpack(("a", aid), pa_b), unpack(("b", bid), pb_b))

    row.__qualname__ = op
    return row_map(pairs, ["a_id", "b_id", "pa", "pb"], row, OVERLAP_SCHEMA)
