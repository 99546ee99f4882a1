"""Production job entrypoint: checkpointed tile-assign + PIP pipeline.

Cluster usage (the north-rule deployment shape):

    zip -r segment_rtree_spark.zip segment_rtree_spark
    spark-submit --master <cluster> \
        --py-files segment_rtree_spark.zip \
        --conf spark.python.daemon.module=segment_rtree_spark.worker_daemon \
        --conf spark.sql.codegen.cache.maxEntries=1000 \
        tools/submit_job.py \
        --input  <images parquet/iceberg path> \
        --layer  data/wkt/africa.wkt \
        --output /path/out \
        --checkpoint /path/ckpt \
        --res 8 --prefix-bits 6

The job is resumable: work is keyed by the spatial cell prefix; killed
runs resume at the first incomplete prefix (see
segment_rtree_spark/checkpoint.py). Both --conf settings are ones
`session.get_spark` applies, which a preconfigured cluster session
never calls: Python workers fork from the engine's daemon, which skips
two fixed per-task costs, and the generated-class cache holds the
engine's working set (session.CODEGEN_CACHE_ENTRIES), so a repeated
plan reuses its compiled classes instead of recompiling them. Local
smoke, through `get_spark`:

    python tools/submit_job.py --demo
"""

from __future__ import annotations

import argparse
import os
import sys

os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input")
    ap.add_argument("--layer", default="data/wkt/africa.wkt")
    ap.add_argument("--output", required=False)
    ap.add_argument("--checkpoint", required=False)
    ap.add_argument("--res", type=int, default=8)
    ap.add_argument("--prefix-bits", type=int, default=4)
    ap.add_argument("--job-id", default="pip-job")
    ap.add_argument("--demo", action="store_true", help="synthesize a small input and run locally")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    from segment_rtree_spark.checkpoint import CheckpointJob
    from segment_rtree_spark.layer import PolygonLayer
    from segment_rtree_spark.operators.pip_join import pip_join_broadcast
    from segment_rtree_spark.operators.tile_ops import assign_tiles, with_cell_prefix
    from segment_rtree_spark.session import get_spark

    # under spark-submit the session comes preconfigured by the cluster;
    # the local demo builds the engine's own
    if args.demo:
        spark = get_spark(app="srs-pip-job")
    else:
        spark = SparkSession.builder.appName("srs-pip-job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import tempfile

    if args.demo:
        from segment_rtree_spark.synth import images_df_fast

        tmp = tempfile.mkdtemp(prefix="srs_demo_")
        imgs = images_df_fast(spark, 20000)
        imgs = imgs.withColumn("lng", F.col("lng") / 360.0 * 75.0 + 17.0).withColumn(
            "lat", F.col("lat") / 180.0 * 80.0 + 1.5
        )
        args.input = f"{tmp}/in"
        imgs.write.parquet(args.input)
        args.output = args.output or f"{tmp}/out"
        args.checkpoint = args.checkpoint or f"{tmp}/ckpt"

    layer = PolygonLayer.from_wkt_file(args.layer)
    imgs = spark.read.parquet(args.input)
    keyed = with_cell_prefix(
        assign_tiles(imgs, args.res), prefix_bits=args.prefix_bits
    )

    job = CheckpointJob(spark, args.job_id, args.checkpoint)

    def transform(batch):
        return pip_join_broadcast(
            batch, layer, keep=["image_id", "caption", "cell", "cell_p"]
        )

    n_keys = job.run(keyed, "cell_p", transform, keys_per_batch=8)
    total = job.output().count()
    print(f"processed {n_keys} partition keys this run; output rows so far: {total}")
    print(f"progress table: {job.progress_dir}")
    spark.stop()


if __name__ == "__main__":
    main()
