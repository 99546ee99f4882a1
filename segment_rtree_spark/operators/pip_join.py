"""Point-in-polygon join: the engine's flagship operator.

Two physical strategies, identical output rows (tested):

* broadcast ('broadcast'): the PolygonLayer (its NumPy arrays:
  envelope index, ids, ring arena) ships to executors via
  sc.broadcast; the probe side streams through
  mapInArrow, each Arrow batch probed against the layer's envelope
  index then refined by the batched winding kernel. Zero shuffle of
  the (big) point side — the 10^12-row path when the layer fits in
  executor memory. This is the Spark analog of the reference lifecycle
  point_in_polygon.rs:12-74 with the envelope prefilter as the
  candidate join.

* cell-partitioned ('partitioned'): points get a quadtree cell id via
  a pure Catalyst expression (no UDF); polygons polyfill to a
  (polygon_id, cell) cover table; the bbox theta-join becomes a cell
  EQUI-join Catalyst can hash-partition, then each matched group's
  cover polygons form a small PolygonLayer whose `pip` refines the
  group's points: the same pair relation the broadcast kernels run.
  Optional hot-cell salting: cells whose point-count exceeds a
  threshold are split into n_salt sub-keys (points pick a salt by id
  hash, cover rows explode all salts) so one hot city doesn't pin a
  single reducer — the skew answer the north rule requires on top of
  AQE.

Semantics: emits (point passthrough cols..., polygon_id, relation) for
relation in {'interior','boundary'}; exterior pairs are dropped.

how='auto' (pip_join) broadcasts when the pickled layer fits
BROADCAST_LIMIT_BYTES, else takes the partitioned path.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels.pip import RELATION_NAMES, RingArena
from ..layer import PolygonLayer
from .arrow_map import batch_map, cogroup_map, group_map
from .tile_ops import assign_tiles

# layers whose pickled size (what the broadcast kernels ship) exceeds
# this take the cell-partitioned path instead (conservative
# fraction of a typical executor heap)
BROADCAST_LIMIT_BYTES = 256 << 20

__all__ = [
    "pip_join_broadcast",
    "pip_count_broadcast",
    "pip_join_partitioned",
    "pip_join_partitioned_rings",
    "cover_from_rings",
    "pip_join",
]


def _result_schema(points: DataFrame, keep: Sequence[str],
                   tail: str = "polygon_id long, relation string") -> str:
    by_name = {f.name: f.dataType.simpleString() for f in points.schema.fields}
    return ", ".join([f"{c} {by_name[c]}" for c in keep] + [tail])


def _xy(tab, x: str, y: str):
    """float64 (x, y) coordinate arrays of an Arrow batch or table."""
    return [np.asarray(tab.column(c).to_numpy(zero_copy_only=False), np.float64)
            for c in (x, y)]


def _emit_hits(tab, keep: Sequence[str], qi, pid, rel):
    """(keep..., polygon_id, relation) rows of PolygonLayer.pip hits
    over an Arrow batch or table. The hit fan-out is one take over the
    payload columns (one buffer gather, no pandas row materialization:
    the pdf.iloc form re-boxed every carried cell per hit, a per-row
    interpreter loop at payload-carrying call sites like the curation
    pipelines); zero hits keep the schema."""
    import pyarrow as pa

    return (
        tab.select(keep).take(qi)
        .append_column("polygon_id", pa.array(pid.astype(np.int64)))
        .append_column("relation", pa.array(RELATION_NAMES[rel], pa.string()))
    )


def pip_join_broadcast(
    points: DataFrame,
    layer: PolygonLayer,
    x: str = "lng",
    y: str = "lat",
    keep: Sequence[str] | None = None,
) -> DataFrame:
    """Broadcast PIP join; see module docstring."""
    keep = list(keep) if keep is not None else [c for c in points.columns]
    schema = _result_schema(points, keep)
    blayer = points.sparkSession.sparkContext.broadcast(layer)

    def kernel(batch):
        return _emit_hits(batch, keep, *blayer.value.pip(*_xy(batch, x, y))).columns

    # only keep, x and y cross to Python: an image table's pixel blobs
    # never ride through the kernel for an id-only join output
    return batch_map(points, dict.fromkeys([*keep, x, y]), kernel, schema)


def pip_count_broadcast(
    points: DataFrame,
    layer: PolygonLayer,
    x: str = "lng",
    y: str = "lat",
    keep: Sequence[str] | None = None,
) -> DataFrame:
    """Aggregated broadcast PIP: one output row per input point with
    >= 1 interior/boundary hit, carrying n_regions = the hit count —
    counted INSIDE the kernel (np.bincount over the hit stream), so
    the per-point containment aggregate costs ZERO shuffle.

    Equivalent to pip_join_broadcast(...).groupBy(id).agg(first(keep),
    count(*)) when point rows are unique per id (the curation-pipeline
    contract): the only thing that groupBy collapses is the multi-
    polygon fan-out the kernel itself produced, and the kernel knows
    those counts before ever emitting rows. The payload columns ride
    through the kernel once instead of through a corpus-wide exchange
    — at 10^12 rows this deletes the survivor stage's only shuffle."""
    keep = list(keep) if keep is not None else list(points.columns)
    schema = _result_schema(points, keep, "n_regions long")
    blayer = points.sparkSession.sparkContext.broadcast(layer)

    def kernel(batch):
        qi, _pid, _rel = blayer.value.pip(*_xy(batch, x, y))
        counts = np.bincount(qi, minlength=batch.num_rows)
        sel = np.flatnonzero(counts)
        return [*batch.select(keep).take(sel).columns, counts[sel]]

    return batch_map(points, dict.fromkeys([*keep, x, y]), kernel, schema)


def _pack_polygon(poly) -> bytes:
    """Serialize a polygon's ring coordinate arrays, shell first, with
    no tree: coords are ~8x smaller than coords+tree, and executors
    build each polygon's trees once per task (_unpack_polygon, memoized
    by the refine kernels)."""
    import pickle

    return pickle.dumps([(r.xs, r.ys) for r in poly.rings], protocol=4)


def _unpack_polygon(blob: bytes):
    """The polygon of a _pack_polygon blob: the one polygon of a layer
    whose arena builds the ring trees."""
    import pickle

    arena = RingArena(pickle.loads(blob))
    return PolygonLayer([0], arena, [len(arena) - 1]).polygons[0]


def pip_join_partitioned(
    points: DataFrame,
    layer: PolygonLayer,
    x: str = "lng",
    y: str = "lat",
    keep: Sequence[str] | None = None,
    res: int | None = None,
    salt_threshold: int | None = None,
    n_salt: int = 8,
    num_partitions: int | None = None,
    prefilter: bool | None = None,
) -> DataFrame:
    """Cell-partitioned PIP join; see module docstring.

    res=None picks the coarsest resolution whose cover averages >= ~8
    cells per polygon — measured sweet spot between few huge cogroups
    (res too coarse: one task drags) and per-group overhead (res too
    fine: thousands of tiny Arrow groups).

    Scale design: the layer is NEVER broadcast. Each polygon's packed
    ring coordinates ride in the (cell, polygon_id, pack) cover table;
    points and cover co-shuffle on the cell key and meet in a cogrouped
    applyInArrow, so a pack crosses the wire once per covering CELL
    (not once per point, and not once per executor as a broadcast
    would). Executors memoize unpacked polygons by id across groups;
    each group's polygons refine its points in one PolygonLayer.pip
    call.
    `res` trades cover-table size against candidate selectivity.

    Plan-shape choices (all measured):
      * prefilter: a broadcast SEMI-join of points against the distinct
        cover cells drops every point whose cell the layer doesn't
        touch BEFORE the wide shuffle (the partition-pruning analog).
        Auto-on while the cell list is broadcastable (<= ~2M cells);
        a larger layer should pre-partition/bucket instead.
      * salting: hot cells come from a 1-in-50 row-hash probe (a full
        pre-agg at 10^12 rows would cost as much as the join; a missed
        hot cell only affects balance, never correctness). The probe
        hashes the salted column, so the hot set is the same at any
        partitioning or core count. Many hot cells join back as a
        BROADCAST frame — never as a literal plan array, so thousands
        of hot cells cannot bloat the plan.
      * the cogroup shuffle is pinned to an explicit partition count,
        by default defaultParallelism: one wave of tasks. AQE's
        byte-oriented coalescing would squeeze this tiny-byte /
        heavy-CPU Python stage onto a handful of workers (measured 8
        of 32 cores busy) and let one hot cell pin a whole task. More
        partitions than slots only add waves of the fixed per-task
        cost of an Arrow cogroup, which outweighs the refine itself.
      * the cover is one vectorized BFS over the whole layer
        (PolygonLayer.cover_cells), cheap enough to rebuild per call
        and per candidate `res`.
    """
    keep = list(keep) if keep is not None else [c for c in points.columns]
    schema = _result_schema(points, keep)
    spark = points.sparkSession
    points = points.select(*dict.fromkeys([*keep, x, y]))  # prune pre-UDF

    if res is None:
        for res in range(3, 15):
            pids, cells = layer.cover_cells(res)
            if len(cells) >= 8 * max(1, len(layer)):
                break
    else:
        pids, cells = layer.cover_cells(res)
    packs = {int(pid): _pack_polygon(layer.by_id(int(pid))) for pid in set(pids.tolist())}
    cover = spark.createDataFrame(
        pd.DataFrame(
            {
                "polygon_id": pids,
                "cell": cells,
                "pack": [packs[int(p)] for p in pids],
            }
        )
    )

    if prefilter is None:
        prefilter = len(cells) <= 2_000_000
    cellset = (
        spark.createDataFrame(pd.DataFrame({"cell": np.unique(cells)}))
        if prefilter
        else None
    )
    return _pip_cogroup(
        "pip_join_partitioned", points, cover, res, keep, schema, x, y,
        salt_threshold, n_salt, num_partitions, cellset,
    )


_HOT_MOD = 50  # the hot-cell probe reads 1 row in 50


def _hot_cells(pts: DataFrame, col: str, salt_threshold: int):
    """Cells whose estimated point count exceeds salt_threshold, as a
    one-column pandas frame. The estimate counts a row-hash subset
    (pmod(xxhash64(col, 'hot'), 50) = 0): the same rows at any
    partitioning or core count, unlike a seeded .sample()."""
    probe = F.pmod(F.xxhash64(F.col(col), F.lit("hot")), F.lit(_HOT_MOD)) == 0
    return (
        pts.filter(probe)
        .groupBy("cell")
        .count()
        .filter(F.col("count") > salt_threshold / _HOT_MOD)
        .select("cell")
        .toPandas()
    )


def _pip_cogroup(
    op: str,
    points: DataFrame,
    cover: DataFrame,
    res: int,
    keep: Sequence[str],
    schema: str,
    x: str,
    y: str,
    salt_threshold: int | None,
    n_salt: int,
    num_partitions: int | None,
    cellset: DataFrame | None,
) -> DataFrame:
    """Shared back half of the partitioned PIP join: cell assignment,
    optional semi prefilter, hot-cell salting, pinned co-shuffle,
    cogrouped PolygonLayer.pip refine, its plan node named `op`.
    `cover` is any (polygon_id, cell, pack) DataFrame — driver-built
    for broadcastable layers, executor-built (cover_from_rings) when
    the layer itself is a table."""
    spark = points.sparkSession
    pts = assign_tiles(points, res, y=y, x=x)

    if cellset is not None:
        pts = pts.join(F.broadcast(cellset), "cell", "semi")

    group_keys = ["cell"]
    if salt_threshold is not None:
        salt_col = (keep[:1] or [x])[0]
        hot_pdf = _hot_cells(pts, salt_col, salt_threshold)
        if len(hot_pdf):
            if len(hot_pdf) <= 64:
                # a handful of hot cells: a literal isin beats two
                # broadcast joins in plan and wall time
                is_hot = F.col("cell").isin([int(c) for c in hot_pdf["cell"]])

                def flag(df):
                    return df
            else:
                # thousands of hot cells: join a broadcast frame, never
                # a literal plan array (round-1 plan-bloat lesson)
                hot_df = spark.createDataFrame(hot_pdf).withColumn("is_hot", F.lit(True))
                is_hot = F.col("is_hot").isNotNull()

                def flag(df):
                    return df.join(F.broadcast(hot_df), "cell", "left")

            salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salt))
            salts = F.sequence(F.lit(0), F.lit(n_salt - 1))
            pts = flag(pts).withColumn(
                "salt", F.when(is_hot, salt).otherwise(F.lit(0)).cast("long")
            ).drop("is_hot")
            cover = (
                flag(cover)
                .withColumn("salt", F.explode(F.when(is_hot, salts).otherwise(F.array(F.lit(0)))))
                .withColumn("salt", F.col("salt").cast("long"))
                .drop("is_hot")
            )
            group_keys = ["cell", "salt"]

    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    pts = pts.repartition(num_partitions, *group_keys)
    cover = cover.repartition(num_partitions, *group_keys)

    _arena_cache: dict = {}

    # one group (cell, or cell + salt) is one PolygonLayer.pip call over
    # a small layer of the group's cover polygons, the pair relation
    # the broadcast kernels run; a polygon's ring trees are built once
    # per task (memo of its one-polygon arena by id across groups) and
    # a group's arena concatenates them. An empty side is an empty pip
    # result.
    def refine(pts_tab, cov_tab):
        pids, first = np.unique(
            cov_tab.column("polygon_id").to_numpy(zero_copy_only=False), return_index=True
        )
        packs = cov_tab.column("pack").to_numpy(zero_copy_only=False)
        for pid, i in zip(pids.tolist(), first):
            if pid not in _arena_cache:
                _arena_cache[pid] = _unpack_polygon(packs[i]).layer.arena
        arenas = [_arena_cache[p] for p in pids.tolist()]
        lyr = PolygonLayer(
            pids, RingArena.concat(arenas), [len(a) - 1 for a in arenas], hilbert_sort=False
        )
        return _emit_hits(pts_tab, keep, *lyr.pip(*_xy(pts_tab, x, y))).columns

    refine.__qualname__ = op
    return cogroup_map(pts, cover, group_keys, refine, schema)


COVER_SCHEMA = "polygon_id long, cell long, pack binary"


def cover_from_rings(rings: DataFrame, res: int) -> DataFrame:
    """DISTRIBUTED polyfill: (polygon_id, part_id, xs, ys) ring rows ->
    (polygon_id, cell, pack) cover rows, the cover BFS of a one-polygon
    layer per polygon in one arrow_map.group_map kernel. No
    PolygonLayer ever exists on the driver, so the partitioned PIP
    path works for layers of any cardinality — the 10^6-polygon case a
    driver-side PolygonLayer can't serve."""
    cols = ["polygon_id", "part_id", "xs", "ys"]

    def cover(tab):
        lyr = PolygonLayer.from_ring_rows(
            zip(*(tab.column(c).to_numpy(zero_copy_only=False) for c in cols))
        )
        pids, cells = lyr.cover_cells(res)
        return [pids, cells, [_pack_polygon(lyr.polygons[0])] * len(cells)]

    return group_map(rings, cols, "polygon_id", cover, COVER_SCHEMA)


def pip_join_partitioned_rings(
    points: DataFrame,
    rings: DataFrame,
    res: int,
    x: str = "lng",
    y: str = "lat",
    keep: Sequence[str] | None = None,
    salt_threshold: int | None = None,
    n_salt: int = 8,
    num_partitions: int | None = None,
    prefilter: bool = True,
) -> DataFrame:
    """Partitioned PIP join where the polygon side is a TABLE of ring
    rows (polygon_id, part_id, xs, ys) — e.g. read_wkt_rings output —
    with the polyfill cover built executor-side (cover_from_rings).
    Identical output rows to pip_join_partitioned/broadcast (tested).

    The cover feeds both the semi prefilter and the cogroup, so it is
    persisted for the lifetime of the returned plan; callers doing
    many joins against the same layer should build cover_from_rings
    once and reuse it. `res` must be explicit here: auto-picking would
    need cover sizes, i.e. a polyfill pass per candidate res."""
    keep = list(keep) if keep is not None else [c for c in points.columns]
    schema = _result_schema(points, keep)
    points = points.select(*dict.fromkeys([*keep, x, y]))

    cover = cover_from_rings(rings, res)
    from pyspark import StorageLevel

    cover = cover.persist(StorageLevel.MEMORY_AND_DISK)
    cellset = cover.select("cell").distinct() if prefilter else None
    return _pip_cogroup(
        "pip_join_partitioned_rings", points, cover, res, keep, schema, x, y,
        salt_threshold, n_salt, num_partitions, cellset,
    )


# pip_join_partitioned's options that pip_join_broadcast does not take:
# pip_join drops them when the strategy resolves to broadcast
_PARTITIONED_ONLY = ("res", "salt_threshold", "n_salt", "num_partitions", "prefilter")


def _resolve_how(how: str, layer: PolygonLayer) -> str:
    """The PIP strategy for `how`: 'auto' picks 'broadcast' when the
    pickled layer (what the broadcast kernels ship) fits
    BROADCAST_LIMIT_BYTES, else 'partitioned'; any other value passes
    through."""
    if how != "auto":
        return how
    import pickle

    fits = len(pickle.dumps(layer)) <= BROADCAST_LIMIT_BYTES
    return "broadcast" if fits else "partitioned"


def pip_join(
    points: DataFrame,
    layer: PolygonLayer,
    how: str = "broadcast",
    **kw,
) -> DataFrame:
    """PIP join by strategy: 'broadcast', 'partitioned' or 'auto'
    (see _resolve_how)."""
    how = _resolve_how(how, layer)
    if how == "broadcast":
        kw = {k: v for k, v in kw.items() if k not in _PARTITIONED_ONLY}
        return pip_join_broadcast(points, layer, **kw)
    if how == "partitioned":
        return pip_join_partitioned(points, layer, **kw)
    raise ValueError(f"how must be 'broadcast', 'partitioned' or 'auto', got {how!r}")
