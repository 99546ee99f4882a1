"""Point-in-polygon join: the engine's flagship operator.

Two physical strategies, identical output rows (tested):

* broadcast ('broadcast'): the slim PolygonLayer pack (NumPy arrays:
  envelope index, ids, ring arena; PolygonLayer._slim) ships to
  executors via sc.broadcast; the probe side streams through
  mapInPandas, each Arrow batch probed against the layer's envelope
  index then refined by the batched winding kernel. Zero shuffle of
  the (big) point side — the 10^12-row path when the layer fits in
  executor memory. This is the Spark analog of the reference lifecycle
  point_in_polygon.rs:12-74 with the envelope prefilter as the
  candidate join.

* cell-partitioned ('partitioned'): points get a quadtree cell id via
  a pure Catalyst expression (no UDF); polygons polyfill to a
  (polygon_id, cell) cover table; the bbox theta-join becomes a cell
  EQUI-join Catalyst can hash-partition, then the winding kernel
  refines per matched pair group. Optional hot-cell salting: cells
  whose point-count exceeds a threshold are split into n_salt
  sub-keys (points pick a salt by id hash, cover rows explode all
  salts) so one hot city doesn't pin a single reducer — the skew
  answer the north rule requires on top of AQE.

Semantics: emits (point passthrough cols..., polygon_id, relation) for
relation in {'interior','boundary'}; exterior pairs are dropped (use
emit_exterior for the 3-valued relation of every candidate pair).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels.pip import RELATION_NAMES
from ..layer import PolygonLayer
from ..tiles import cell_of_sql

__all__ = [
    "pip_join_broadcast",
    "pip_count_broadcast",
    "pip_join_partitioned",
    "pip_join_partitioned_rings",
    "cover_from_rings",
    "pip_join",
]


def _result_schema(points: DataFrame, keep: Sequence[str]) -> str:
    by_name = {f.name: f.dataType.simpleString() for f in points.schema.fields}
    fields = [f"{c} {by_name[c]}" for c in keep]
    return ", ".join(fields + ["polygon_id long", "relation string"])


def pip_join_broadcast(
    points: DataFrame,
    layer: PolygonLayer,
    x: str = "lng",
    y: str = "lat",
    keep: Sequence[str] | None = None,
    emit_exterior: bool = False,
) -> DataFrame:
    """Broadcast PIP join; see module docstring."""
    keep = list(keep) if keep is not None else [c for c in points.columns]
    schema = _result_schema(points, keep)
    spark = points.sparkSession
    blayer = spark.sparkContext.broadcast(layer._slim())
    # column-prune BEFORE the UDF: the kernel ships every input column
    # through Arrow, so an unpruned image table would drag its pixel
    # blobs through the kernel for an id-only join output
    points = points.select(*dict.fromkeys([*keep, x, y]))

    # Arrow-native kernel: the hit fan-out is a RecordBatch.take over
    # the payload columns (one buffer gather, no pandas row
    # materialization — the pdf.iloc form re-boxed every carried cell
    # per hit, which at payload-carrying call sites like the curation
    # pipelines was a per-row interpreter loop both ways)
    def kernel(batches):
        import pyarrow as pa

        lyr = blayer.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            px = batch.column(names.index(x)).to_numpy(zero_copy_only=False)
            py = batch.column(names.index(y)).to_numpy(zero_copy_only=False)
            qi, pid, rel = lyr.pip(
                np.asarray(px, np.float64), np.asarray(py, np.float64),
                emit_exterior=emit_exterior,
            )
            if len(qi) == 0:
                continue
            out = batch.select(keep).take(qi)
            yield pa.RecordBatch.from_arrays(
                [*out.columns,
                 pa.array(pid.astype(np.int64)),
                 pa.array(RELATION_NAMES[rel])],
                [*keep, "polygon_id", "relation"],
            )

    return points.mapInArrow(kernel, schema)


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
    by_name = {f.name: f.dataType.simpleString() for f in points.schema.fields}
    schema = ", ".join([f"{c} {by_name[c]}" for c in keep] + ["n_regions long"])
    spark = points.sparkSession
    blayer = spark.sparkContext.broadcast(layer._slim())
    points = points.select(*dict.fromkeys([*keep, x, y]))

    # Arrow-native: the survivor gather is one RecordBatch.take over
    # the payload columns (see pip_join_broadcast)
    def kernel(batches):
        import pyarrow as pa

        lyr = blayer.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            px = batch.column(names.index(x)).to_numpy(zero_copy_only=False)
            py = batch.column(names.index(y)).to_numpy(zero_copy_only=False)
            qi, _pid, _rel = lyr.pip(
                np.asarray(px, np.float64), np.asarray(py, np.float64)
            )
            if len(qi) == 0:
                continue
            counts = np.bincount(qi, minlength=batch.num_rows)
            sel = np.flatnonzero(counts)
            out = batch.select(keep).take(sel)
            yield pa.RecordBatch.from_arrays(
                [*out.columns, pa.array(counts[sel].astype(np.int64))],
                [*keep, "n_regions"],
            )

    return points.mapInArrow(kernel, schema)


def _pack_polygon(poly) -> bytes:
    """Serialize a polygon's ring coordinate arrays (trees are rebuilt
    executor-side and cached — coords are ~8x smaller than coords+tree)."""
    import pickle

    rings = [(r.xs, r.ys) for r in [poly.shell] + list(poly.holes)]
    return pickle.dumps(rings, protocol=4)


def pip_join_partitioned(
    points: DataFrame,
    layer: PolygonLayer,
    x: str = "lng",
    y: str = "lat",
    keep: Sequence[str] | None = None,
    emit_exterior: bool = False,
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
    fine: thousands of tiny pandas groups).

    Scale design: the layer is NEVER broadcast. Each polygon's packed
    ring coordinates ride in the (cell, polygon_id, pack) cover table;
    points and cover co-shuffle on the cell key and meet in a cogrouped
    applyInPandas, so a pack crosses the wire once per covering CELL
    (not once per point, and not once per executor as a broadcast
    would). Executors memoize unpacked polygons by id across groups.
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
        points, cover, res, keep, schema, x, y, emit_exterior,
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
    points: DataFrame,
    cover: DataFrame,
    res: int,
    keep: Sequence[str],
    schema: str,
    x: str,
    y: str,
    emit_exterior: bool,
    salt_threshold: int | None,
    n_salt: int,
    num_partitions: int | None,
    cellset: DataFrame | None,
) -> DataFrame:
    """Shared back half of the partitioned PIP join: cell assignment,
    optional semi prefilter, hot-cell salting, pinned co-shuffle,
    cogrouped winding refine. `cover` is any (polygon_id, cell, pack)
    DataFrame — driver-built for broadcastable layers, executor-built
    (cover_from_rings) when the layer itself is a table."""
    spark = points.sparkSession
    pts = points.withColumn("cell", F.expr(cell_of_sql(y, x, res)))

    if cellset is not None:
        pts = pts.join(F.broadcast(cellset), "cell", "semi")

    group_keys = ["cell"]
    if salt_threshold is not None:
        salt_col = (keep[:1] or [x])[0]
        hot_pdf = _hot_cells(pts, salt_col, salt_threshold)
        if len(hot_pdf):
            salt_expr = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salt))
            salt_seq = F.sequence(F.lit(0), F.lit(n_salt - 1))
            if len(hot_pdf) <= 64:
                # a handful of hot cells: a literal isin beats two
                # broadcast joins + generators in plan and wall time
                is_hot = F.col("cell").isin([int(c) for c in hot_pdf["cell"]])
                pts = pts.withColumn(
                    "salt",
                    F.when(is_hot, salt_expr).otherwise(F.lit(0)).cast("long"),
                )
                cover = cover.withColumn(
                    "salt",
                    F.explode(F.when(is_hot, salt_seq).otherwise(F.array(F.lit(0)))),
                ).withColumn("salt", F.col("salt").cast("long"))
            else:
                # thousands of hot cells: join a broadcast frame, never
                # a literal plan array (round-1 plan-bloat lesson)
                hot_df = spark.createDataFrame(hot_pdf).withColumn("is_hot", F.lit(True))
                pts = (
                    pts.join(F.broadcast(hot_df), "cell", "left")
                    .withColumn(
                        "salt",
                        F.when(F.col("is_hot").isNotNull(), salt_expr)
                        .otherwise(F.lit(0)).cast("long"),
                    )
                    .drop("is_hot")
                )
                cover = (
                    cover.join(F.broadcast(hot_df), "cell", "left")
                    .withColumn(
                        "salt",
                        F.explode(
                            F.when(F.col("is_hot").isNotNull(), salt_seq)
                            .otherwise(F.array(F.lit(0)))
                        ),
                    )
                    .withColumn("salt", F.col("salt").cast("long"))
                    .drop("is_hot")
                )
            group_keys = ["cell", "salt"]

    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    pts = pts.repartition(num_partitions, *group_keys)
    cover = cover.repartition(num_partitions, *group_keys)

    _poly_cache: dict = {}

    # Arrow-native cogroup refine: per matched polygon the hit gather
    # is RecordBatch/Table.take over the point side's payload columns
    # (one buffer gather) instead of a pandas iloc row materialization
    # per polygon — the same §4.2 move as the broadcast kernels, on
    # the partitioned path's per-cell groups
    def refine(pts_tab, cov_tab):
        import pickle

        import pyarrow as pa

        from ..kernels.pip import PreparedPolygon, PreparedRing, points_in_polygon

        empty = pa.table(
            {
                **{c: pts_tab.column(c).slice(0, 0) for c in keep},
                "polygon_id": pa.array([], type=pa.int64()),
                "relation": pa.array([], type=pa.string()),
            }
        ) if pts_tab.num_rows else None
        if pts_tab.num_rows == 0 or cov_tab.num_rows == 0:
            if empty is not None:
                return empty
            # no point rows: emit the declared schema, zero rows
            return pa.table(
                {
                    **{c: pa.array([], type=pts_tab.schema.field(c).type)
                       for c in keep},
                    "polygon_id": pa.array([], type=pa.int64()),
                    "relation": pa.array([], type=pa.string()),
                }
            )
        px = np.asarray(
            pts_tab.column(x).to_numpy(zero_copy_only=False), np.float64
        )
        py = np.asarray(
            pts_tab.column(y).to_numpy(zero_copy_only=False), np.float64
        )
        payload = pts_tab.select(keep)
        outs = []
        pids = cov_tab.column("polygon_id").to_numpy(zero_copy_only=False)
        packs = cov_tab.column("pack").to_numpy(zero_copy_only=False)
        for pid, pack in zip(pids, packs):
            pid = int(pid)
            poly = _poly_cache.get(pid)
            if poly is None:
                rings = pickle.loads(pack)
                poly = PreparedPolygon(
                    PreparedRing(*rings[0]), [PreparedRing(*r) for r in rings[1:]]
                )
                _poly_cache[pid] = poly
            rel = points_in_polygon(px, py, poly)
            m = np.ones(len(rel), bool) if emit_exterior else rel != 0
            if not m.any():
                continue
            sel = np.flatnonzero(m)
            out = payload.take(sel)
            outs.append(
                pa.table(
                    {
                        **{c: out.column(c) for c in keep},
                        "polygon_id": pa.array(
                            np.full(len(sel), pid, np.int64)
                        ),
                        "relation": pa.array(RELATION_NAMES[rel[m]]),
                    }
                )
            )
        return pa.concat_tables(outs) if outs else empty

    return pts.groupBy(*group_keys).cogroup(cover.groupBy(*group_keys)).applyInArrow(
        lambda l, r: refine(l, r), schema
    )


COVER_SCHEMA = "polygon_id long, cell long, pack binary"


def cover_from_rings(rings: DataFrame, res: int) -> DataFrame:
    """DISTRIBUTED polyfill: (polygon_id, part_id, xs, ys) ring rows ->
    (polygon_id, cell, pack) cover rows, BFS-refined per polygon inside
    applyInPandas. No PolygonLayer ever exists on the driver, so the
    partitioned PIP path works for layers of any cardinality — the
    10^6-polygon case a driver-side PolygonLayer can't serve."""
    from ..tiles import polyfill as _polyfill

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        import pickle

        from ..kernels.pip import PreparedPolygon

        pdf = pdf.sort_values("part_id")
        arrs = [
            (np.asarray(xs, np.float64), np.asarray(ys, np.float64))
            for xs, ys in zip(pdf["xs"], pdf["ys"])
        ]
        poly = PreparedPolygon.from_arrays(arrs)
        cells = _polyfill(poly, res)
        pack = pickle.dumps(arrs, protocol=4)
        pid = int(pdf["polygon_id"].iloc[0])
        return pd.DataFrame(
            {
                "polygon_id": np.full(len(cells), pid, np.int64),
                "cell": cells,
                "pack": [pack] * len(cells),
            }
        )

    return rings.groupBy("polygon_id").applyInPandas(gen, COVER_SCHEMA)


def pip_join_partitioned_rings(
    points: DataFrame,
    rings: DataFrame,
    res: int,
    x: str = "lng",
    y: str = "lat",
    keep: Sequence[str] | None = None,
    emit_exterior: bool = False,
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
        points, cover, res, keep, schema, x, y, emit_exterior,
        salt_threshold, n_salt, num_partitions, cellset,
    )


def pip_join(
    points: DataFrame,
    layer: PolygonLayer,
    how: str = "broadcast",
    **kw,
) -> DataFrame:
    if how == "broadcast":
        kw.pop("res", None)
        kw.pop("salt_threshold", None)
        kw.pop("n_salt", None)
        return pip_join_broadcast(points, layer, **kw)
    if how == "partitioned":
        return pip_join_partitioned(points, layer, **kw)
    raise ValueError(f"how must be 'broadcast' or 'partitioned', got {how!r}")
