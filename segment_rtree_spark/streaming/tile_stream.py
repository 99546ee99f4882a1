"""Structured Streaming: incremental tile assignment + windowed counts.

The reference is batch-only (SURVEY.md §2.10) and the north rule asks
for checkpointed BATCH resumability (see ../checkpoint.py); this module
is the streaming-ingest extension: new image rows stream in, get their
quadtree cell assigned by the same pure-SQL projection chain the batch
path uses, and per-cell counts aggregate in event-time windows with a
watermark for late data. State lives in the streaming checkpoint dir,
so the job resumes exactly-once after restart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.tile_ops import assign_tiles

__all__ = [
    "stream_images",
    "streaming_tile_counts",
    "streaming_pip_counts",
    "run_to_completion",
]


def stream_images(spark: SparkSession, source_dir: str, schema: str) -> DataFrame:
    """File-source stream of image rows (one parquet drop = one batch)."""
    return spark.readStream.schema(schema).parquet(source_dir)


def streaming_tile_counts(
    images: DataFrame,
    res: int = 8,
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window per-cell ingest counts with late-data watermark."""
    tiled = assign_tiles(images, res)
    return (
        tiled.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "cell", "n")
    )


def streaming_pip_counts(
    points: DataFrame,
    layer,
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming point-in-polygon: the broadcast PIP kernel is a
    stateless mapInPandas transformation, so it runs unchanged inside
    Structured Streaming; per-polygon hit counts aggregate in
    event-time windows behind a watermark."""
    from ..operators.pip_join import pip_join_broadcast

    hits = pip_join_broadcast(points, layer, keep=[ts_col])
    return (
        hits.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "polygon_id", "relation")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "polygon_id", "relation", "n")
    )


def run_to_completion(result: DataFrame, checkpoint_dir: str, table: str = "tile_counts",
                      mode: str = "complete"):
    """Drain all available input (Trigger.AvailableNow) into a memory
    sink — the test/demo harness; swap format('parquet') for real runs.

    Default 'complete' mode emits every window at end-of-input; use
    'append' in production where the watermark gates final results.
    """
    q = (
        result.writeStream.outputMode(mode)
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
