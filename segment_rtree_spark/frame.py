"""SpatialFrame — the engine's public API surface (SURVEY.md §2.11).

A thin, chainable wrapper over DataFrame: every method compiles down
to the DataFrame ops + registered kernels of the operators/ modules;
nothing here adds execution logic. `df` is always accessible for
dropping back to raw Spark.

    sf = SpatialFrame(images_df)
    hits = (sf.assign_tiles(res=8)
              .with_cell_prefix()
              .pip_join(layer, how="auto")      # broadcast vs partitioned
              .df)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from .layer import PolygonLayer

__all__ = ["SpatialFrame"]


class SpatialFrame:
    def __init__(self, df: DataFrame, x: str = "lng", y: str = "lat"):
        self.df = df
        self.x = x
        self.y = y

    def _wrap(self, df: DataFrame) -> "SpatialFrame":
        return SpatialFrame(df, self.x, self.y)

    # -- tiling --------------------------------------------------------

    def assign_tiles(self, res: int, out: str = "cell") -> "SpatialFrame":
        from .operators.tile_ops import assign_tiles

        return self._wrap(assign_tiles(self.df, res, y=self.y, x=self.x, out=out))

    def with_cell_prefix(self, cell: str = "cell", prefix_bits: int = 12) -> "SpatialFrame":
        from .operators.tile_ops import with_cell_prefix

        return self._wrap(with_cell_prefix(self.df, cell, prefix_bits))

    def tile_agg(self, cell: str = "cell", aggs=None) -> "SpatialFrame":
        from .operators.tile_ops import tile_agg

        return self._wrap(tile_agg(self.df, cell, aggs))

    def tile_pyramid(self, base_res: int, min_res: int = 0, measures=None) -> "SpatialFrame":
        from .operators.tile_ops import tile_pyramid

        return self._wrap(
            tile_pyramid(self.df, base_res, min_res, y=self.y, x=self.x, measures=measures)
        )

    # -- joins -----------------------------------------------------------

    def pip_join(self, layer: PolygonLayer, how: str = "auto",
                 keep: Sequence[str] | None = None, **kw) -> "SpatialFrame":
        """Point-in-polygon join. how='auto' broadcasts when the slim
        layer pack is small enough, else takes the cell-partitioned path
        (operators.pip_join._resolve_how)."""
        from .operators.pip_join import pip_join

        return self._wrap(
            pip_join(self.df, layer, how=how, x=self.x, y=self.y, keep=keep, **kw)
        )

    def knn_join(self, layer: PolygonLayer, k: int = 3,
                 keep: Sequence[str] | None = None, **kw) -> "SpatialFrame":
        from .operators.knn_join import knn_join_broadcast

        return self._wrap(
            knn_join_broadcast(self.df, layer, k=k, x=self.x, y=self.y, keep=keep, **kw)
        )

    def distance_join(self, other: "SpatialFrame | DataFrame", radius: float,
                      a_id: str = "a_id", b_id: str = "b_id", **kw) -> "SpatialFrame":
        """All pairs within `radius` against another point frame
        (grid-stencil equi-join; neither side broadcasts)."""
        from .operators.point_join import point_distance_join

        odf = other.df if isinstance(other, SpatialFrame) else other
        return self._wrap(
            point_distance_join(self.df, odf, radius, a_id=a_id, b_id=b_id,
                                x=self.x, y=self.y, **kw)
        )

    def zonal_stats(self, layer: PolygonLayer,
                    values: Sequence[str] = (), **kw) -> "SpatialFrame":
        """Per-polygon statistics over the frame's points."""
        from .operators.point_join import zonal_stats

        return self._wrap(zonal_stats(self.df, layer, values=values, x=self.x, y=self.y, **kw))

    def curate(self, layer: PolygonLayer, **kw) -> "SpatialFrame":
        """End-to-end curation (region filter -> caption filter ->
        near-dup representatives); see pipelines.curate_images."""
        from .pipelines import curate_images

        return self._wrap(curate_images(self.df, layer, **kw))

    def neardup_against(self, corpus: "SpatialFrame | DataFrame",
                        max_hamming: int = 8, **kw) -> "SpatialFrame":
        """Incremental ingest filter: this frame's images matched
        against an existing kept corpus by banded phash Hamming join
        (see operators.dedup.phash_neardup_against)."""
        from .operators.dedup import phash_neardup_against

        other = corpus.df if isinstance(corpus, SpatialFrame) else corpus
        return self._wrap(
            phash_neardup_against(self.df, other, max_hamming=max_hamming, **kw)
        )

    def crossmodal_against(self, corpus: "SpatialFrame | DataFrame",
                           max_hamming: int = 8, **kw) -> "SpatialFrame":
        """Joint caption+image ingest filter: this frame's images
        matched against a kept corpus where the caption is identical
        AND the phash is within the Hamming ball (see
        operators.dedup.crossmodal_neardup_against)."""
        from .operators.dedup import crossmodal_neardup_against

        other = corpus.df if isinstance(corpus, SpatialFrame) else corpus
        return self._wrap(
            crossmodal_neardup_against(
                self.df, other, max_hamming=max_hamming, **kw
            )
        )

    # -- raster <-> vector -------------------------------------------------

    def raster_vector_agg(self, layer: PolygonLayer, res: int) -> "SpatialFrame":
        from .operators.clip_tiles import raster_vector_agg

        return self._wrap(
            raster_vector_agg(self.df.sparkSession, self.df, layer, res, y=self.y, x=self.x)
        )

    # -- passthrough -------------------------------------------------------

    def __getattr__(self, name):
        """Unknown attributes fall through to the underlying DataFrame,
        re-wrapping DataFrame results."""
        attr = getattr(self.df, name)
        if callable(attr):
            def call(*a, **kw):
                out = attr(*a, **kw)
                return self._wrap(out) if isinstance(out, DataFrame) else out

            return call
        return attr
