"""Repeated operator calls in one session reuse Spark's generated classes.

Spark compiles one Java class per distinct generated source and keeps
`spark.sql.codegen.cache.maxEntries` of them. The curation and spatial
operators generate more classes than Spark's default of 100, so at that
size every call recompiles most of its plan and runs bytecode the JIT
has not optimised yet. `session.get_spark` sizes the cache to the
engine's working set: a call on a corpus of the same shape as one the
session has already served compiles nothing new.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from segment_rtree_spark.layer import PolygonLayer

SEEDS = (11, 12, 13)
IMAGES = 3_000
KNN_MOD = 10  # kNN runs on 1 image in 10
WKT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "data", "wkt", "africa.wkt")


def _compiled(spark) -> int:
    """Generated classes compiled by this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _fixture(spark, layer, seed):
    """A cached 3,000-image curation corpus inside the layer's extent and
    its cached kNN subset: the seed lives only in the cached data, never
    in an operator's plan."""
    from segment_rtree_spark.synth import images_df_fast

    x0, x1 = float(np.nanmin(layer.xmin)), float(np.nanmax(layer.xmax))
    y0, y1 = float(np.nanmin(layer.ymin)), float(np.nanmax(layer.ymax))
    imgs = (
        images_df_fast(spark, IMAGES, seed=seed, skew_frac=0.1)
        .withColumn("lng", (F.col("lng") + 180.0) / 360.0 * (x1 - x0) + x0)
        .withColumn("lat", (F.col("lat") + 90.0) / 180.0 * (y1 - y0) + y0)
        .withColumn("caption", F.expr(f"concat('cap ', pmod(xxhash64(image_id, {seed}L), 300))"))
        .withColumn("embedding", F.expr(
            "transform(sequence(0, 15), d -> cast(pmod("
            f"xxhash64(image_id, d, {seed}L), 1000) as double) / 500.0 - 1.0)"))
        .cache()
    )
    knn_pts = imgs.filter(F.expr(f"pmod(xxhash64(image_id, {seed}L), {KNN_MOD}) = 0")).cache()
    imgs.count(), knn_pts.count()
    return imgs, knn_pts


def _calls(layer, imgs, knn_pts):
    """perfbench's curate_ingest operators, then its spatial_join ones."""
    from segment_rtree_spark.operators.images import validate_images
    from segment_rtree_spark.operators.knn_join import knn_join_broadcast
    from segment_rtree_spark.operators.pip_join import pip_join_broadcast, pip_join_partitioned
    from segment_rtree_spark.operators.tile_ops import assign_tiles, tile_pyramid
    from segment_rtree_spark.pipelines import curate_images, curate_multimodal

    return [
        lambda: curate_multimodal(imgs, layer, max_hamming=8, n_bands=4,
                                  embedding="embedding", embed_threshold=0.95).count(),
        lambda: curate_images(imgs, layer, max_hamming=8, n_bands=4).count(),
        lambda: validate_images(imgs).groupBy("ok").count().collect(),
        lambda: pip_join_broadcast(assign_tiles(imgs, res=8), layer,
                                   keep=["image_id", "cell"]).count(),
        lambda: pip_join_partitioned(imgs, layer, keep=["image_id"], res=6,
                                     salt_threshold=100, n_salt=8).count(),
        lambda: knn_join_broadcast(knn_pts, layer, k=2, keep=["image_id"]).count(),
        lambda: tile_pyramid(imgs, base_res=10, min_res=4)
        .groupBy("res").agg(F.sum("n")).collect(),
    ]


def test_third_corpus_compiles_no_new_class(spark):
    """The same calls on three same-shape corpora: the third compiles no
    class, because the first two left every class the calls need in
    the cache (at Spark's default size it recompiles most of them)."""
    layer = PolygonLayer.from_wkt_file(WKT)
    fixtures = [_fixture(spark, layer, seed) for seed in SEEDS]
    compiled = []
    try:
        for imgs, knn_pts in fixtures:
            # a running stream would compile its micro-batches meanwhile
            assert not spark.streams.active
            before = _compiled(spark)
            for call in _calls(layer, imgs, knn_pts):
                call()
            compiled.append(_compiled(spark) - before)
        assert not spark.streams.active
        print("classes compiled per corpus:", compiled)
    finally:
        for df in (df for pair in fixtures for df in pair):
            df.unpersist()
    assert compiled[0] > 0, compiled
    assert compiled[-1] == 0, compiled
