"""Table sinks: cell-prefix-partitioned layout (Iceberg-shaped).

Production target is an Iceberg table partitioned by the spatial
cell-prefix (the north rule's partition column); with no Iceberg
runtime jar in this sandbox, the same layout is produced as
directory-partitioned parquet — swapping to
`df.writeTo(tbl).partitionedBy(...)` is a writer-config change, the
column design is identical. The prefix is resolution-independent
(ancestor bits), so one physical layout serves every query resolution
and `cell_p = <k>` pruning reaches the file listing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .operators.tile_ops import assign_tiles, with_cell_prefix

__all__ = ["write_images_partitioned", "read_images_partitioned"]


def write_images_partitioned(
    df: DataFrame,
    path: str,
    res: int = 12,
    prefix_bits: int = 8,
    y: str = "lat",
    x: str = "lng",
    mode: str = "overwrite",
) -> None:
    """Write an image table partitioned by spatial cell prefix.

    Adds `cell` (res) and `cell_p` (prefix) columns; partitions the
    files by `cell_p` so spatial predicates prune at the directory
    level and the partitioned PIP join co-locates without a shuffle
    when both sides share the layout.
    """
    out = with_cell_prefix(assign_tiles(df, res, y=y, x=x), prefix_bits=prefix_bits)
    out.write.mode(mode).partitionBy("cell_p").parquet(path)


def read_images_partitioned(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)
