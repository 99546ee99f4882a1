"""Tile assignment / aggregation / pyramid rollup — pure Catalyst ops.

Tile assignment is a closed-form bit-arithmetic projection chain
(tiles.cell_stages), so at 10^12 rows it is a scan-local,
WholeStageCodegen'd column compute: no UDF, no shuffle, no Python.
assign_tiles applies the chain one projection per stage through
temporary columns, so the optimizer keeps each grid index a column
(one FLOOR per axis in the optimized plan, not one per use) and Spark
parses a few short stage expressions, not the folded cell_of_sql
string. Every Spark cell assignment in the engine goes through it.
Aggregations are plain hash-aggregates (partial+final for free);
the tile pyramid is a sequence of parent-cell rollups, each a
re-aggregation of the PREVIOUS level's (already tiny) output rather
than a rescan of the base table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..tiles import cell_parent_sql, cell_prefix_sql, cell_stages

__all__ = ["assign_tiles", "tile_agg", "tile_pyramid", "with_cell_prefix"]


def assign_tiles(df: DataFrame, res: int, y: str = "lat", x: str = "lng",
                 out: str = "cell") -> DataFrame:
    """Add the quadtree cell id at `res` as a pure column expression.

    `y` and `x` are column names or SQL expressions. The stages of
    tiles.cell_stages run as projections over temporary grid-index
    columns, named apart from every existing column and dropped at the
    end.
    """
    taken = {c.lower() for c in df.columns} | {out.lower()}
    names = {"cell": out}
    for v in ("ix", "iy"):
        name = f"_{v}"
        while name.lower() in taken:
            name = "_" + name
        names[v] = name
    refs = {"lat": f"({y})", "lng": f"({x})", "ix": f"`{names['ix']}`",
            "iy": f"`{names['iy']}`"}
    for stage in cell_stages(res):
        df = df.withColumns(
            {names[k]: F.expr(sql.format(**refs)) for k, sql in stage.items()}
        )
    return df.drop(names["ix"], names["iy"])


def with_cell_prefix(df: DataFrame, cell: str = "cell", prefix_bits: int = 12,
                     out: str = "cell_p") -> DataFrame:
    """Add the resolution-independent spatial partition key (the
    cell-prefix partition column for Iceberg/parquet layout)."""
    return df.withColumn(out, F.expr(cell_prefix_sql(cell, prefix_bits)))


def tile_agg(df: DataFrame, cell: str = "cell", aggs: dict | None = None) -> DataFrame:
    """Per-cell aggregation. Default: row count. `aggs` maps output
    column name -> Spark Column aggregate expression."""
    if aggs is None:
        aggs = {"n": F.count(F.lit(1))}
    return df.groupBy(cell).agg(*[v.alias(k) for k, v in aggs.items()])


def tile_pyramid(df: DataFrame, base_res: int, min_res: int = 0,
                 y: str = "lat", x: str = "lng",
                 measures: dict | None = None) -> DataFrame:
    """Multi-resolution rollup: aggregate at base_res, then roll each
    coarser level up from the previous level's output (sum/merge of
    partials — never rescanning the base table). Output columns:
    (res, cell, n, ...measures).

    measures: {name: (base_agg Column, rollup_fn(col)->Column)} — e.g.
    {"sum_v": (F.sum("value"), F.sum)}.

    COUNT-ONLY pyramids (measures=None/{} — the common shape) fuse
    into ONE exchange: aggregate at base_res, explode each base cell
    into its ancestor (res, cell) pairs, and re-aggregate the counts
    in a single groupBy — integer sums are grouping-order exact, so
    the rows are identical to the level-chained rollup while the
    L-level union's L sequential shuffle barriers (each a stage
    round-trip under AQE) collapse to two (measured 1.47 s -> 0.77 s
    for a res 10->4 pyramid over 300k rows at local[32]).

    With `measures` the level-chained form stays: its contract is
    rollup_fn applied level to level, and a float-sum rollup is only
    bit-defined under that association order. Each level's output is
    then checkpointed (lazily) before the next level builds on it:
    the lazy formulation nests the FULL chain in every coarser
    level's plan, so the union of L levels rescans the base table L
    times and recomputes the aggregations triangularly (observed as
    7 InMemoryTableScans in one plan; 3x wall at 3M rows). A level's
    output is at most 4^res cells — materializing it is practically
    free, and the base table really is scanned once.
    """
    measures = measures or {}
    base = assign_tiles(df, base_res, y=y, x=x)
    if not measures:
        level = base.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        entries = [
            F.struct(F.lit(base_res).alias("res"), F.col("cell").alias("pcell"))
        ] + [
            F.struct(
                F.lit(r).alias("res"),
                F.expr(cell_parent_sql("cell", r)).alias("pcell"),
            )
            for r in range(base_res - 1, min_res - 1, -1)
        ]
        return (
            level.select("n", F.explode(F.array(*entries)).alias("e"))
            .groupBy(F.col("e.res").alias("res"), F.col("e.pcell").alias("cell"))
            .agg(F.sum("n").alias("n"))
            .select("res", "cell", "n")
        )
    level = base.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        *[agg.alias(name) for name, (agg, _) in measures.items()],
    ).withColumn("res", F.lit(base_res)).localCheckpoint(eager=False)

    out = level
    for r in range(base_res - 1, min_res - 1, -1):
        level = (
            level.withColumn("cell", F.expr(cell_parent_sql("cell", r)))
            .groupBy("cell")
            .agg(
                F.sum("n").alias("n"),
                *[fn(name).alias(name) for name, (_, fn) in measures.items()],
            )
            .withColumn("res", F.lit(r))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(level)
    return out.select("res", "cell", "n", *measures.keys())
