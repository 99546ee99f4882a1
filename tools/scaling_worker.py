"""One scaling-study run: scan parquet images -> assign tiles -> PIP
join vs the combined 4-corpus layer -> count. Prints one JSON line.

Usage: python tools/scaling_worker.py <cores> <input_parquet>
"""

import json
import os
import sys
import time

os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def build_layer(repo):
    # heavy combined layer (~700 polygons, 59k vertices): africa + europe
    # + usa-lower48 + papua, ids offset per file
    from segment_rtree_spark.layer import PolygonLayer
    from segment_rtree_spark.sources.wkt import parse_wkt_file_polygons

    rows = []
    base = 0
    for f in ("africa", "europe", "usa-lower48", "papua"):
        part = parse_wkt_file_polygons(os.path.join(repo, "data", "wkt", f + ".wkt"))
        rows += [(base + pid, part_id, xs, ys) for pid, part_id, xs, ys in part]
        base += 1000
    return PolygonLayer.from_ring_rows(rows)


def main():
    cores = int(sys.argv[1])
    path = sys.argv[2]

    from segment_rtree_spark.operators.arrow_map import batch_map
    from segment_rtree_spark.operators.pip_join import pip_join_broadcast
    from segment_rtree_spark.operators.tile_ops import assign_tiles
    from segment_rtree_spark.session import get_spark

    repo = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    layer = build_layer(repo)

    spark = get_spark(cores=cores, app=f"scaling-{cores}")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM AND the Python worker pool: on a real cluster the
    # pyspark daemons are long-lived, so steady-state throughput is the
    # honest metric — a cold run would measure pandas imports, not the
    # join. The warmup touches every core.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
    spark.range(1000000).selectExpr("sum(id)").collect()
    job = os.environ.get("SCALING_JOB", "pip")
    if job == "ann":
        # the cogrouped-BLAS-refine profile needs a vector corpus, not
        # the image parquet: the same deterministic hash-component
        # synthesis bench.py uses, at 1M x 64-dim (auto n_bits ~12 ->
        # ~4096 buckets of ~256). Per-bucket score matrices give this
        # job a shuffle/memory shape unlike both the PIP broadcast and
        # the dedup band join.
        from pyspark.sql import functions as F

        n = int(os.environ.get("SCALING_VECS", "1000000"))
        vecs = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 63), "
                "d -> cast(pmod(xxhash64(id * 64 + d), 1000) as double) / 500.0 - 1.0)"
            ).alias("embedding"),
        )

        warm = spark.range(cores * 2).repartition(cores * 2)
        batch_map(warm, ["id"], lambda batch: batch.columns, "id long").count()
    else:
        imgs = spark.read.parquet(path)

        warm = imgs.select("phash").repartition(cores * 2)
        batch_map(warm, ["phash"], lambda batch: batch.columns, "phash long").count()
        n = imgs.count()
    runs = []
    n_pairs = 0
    reps = int(os.environ.get("SCALING_REPS", "3"))
    for _ in range(reps):
        t0 = time.time()
        if job == "ann":
            from segment_rtree_spark.operators.embed import ann_topk

            n_pairs = ann_topk(
                vecs, k=5, target_bucket=256, refine="kernel"
            ).count()
        elif job == "curate":
            # the composed-flagship profile: broadcast PIP -> caption
            # filter -> exact-collapse window -> crossmodal band join
            # -> embedding bucket join, all in one lineage — the
            # pipeline a real curation run schedules, mixing all three
            # elementary shapes (broadcast, window shuffle, band join)
            from pyspark.sql import functions as F

            from segment_rtree_spark.pipelines import curate_multimodal

            corpus = spark.read.parquet(path).withColumn(
                "caption",
                F.expr("concat('cap ', pmod(xxhash64(image_id), 30000))"),
            ).withColumn(
                "embedding",
                F.expr(
                    "transform(sequence(0, 15), d -> cast(pmod("
                    "xxhash64(image_id, d), 1000) as double) / 500.0 - 1.0)"
                ),
            )
            n_pairs = curate_multimodal(
                corpus, layer, max_hamming=8, n_bands=4,
                embedding="embedding", embed_threshold=0.95,
            ).count()
        elif job == "dedup":
            # the band-join profile: explode -> shuffle on (band, bkey)
            # -> sizing pass -> tiled self-join -> exact Hamming filter.
            # A different shuffle/memory shape than the PIP job (wide
            # exchange + adaptive tiling instead of a broadcast), which
            # is why it gets its own scaling record.
            from segment_rtree_spark.operators.dedup import phash_neardup_pairs

            n_pairs = phash_neardup_pairs(
                spark.read.parquet(path), max_hamming=8
            ).count()
        else:
            tiled = assign_tiles(spark.read.parquet(path), res=8)
            n_pairs = pip_join_broadcast(tiled, layer, keep=["phash"]).count()
        runs.append(time.time() - t0)
        # drop this rep's localCheckpoint blocks before the next one:
        # the curate pipeline checkpoints its survivor/stage frames, and
        # at local[1] three reps' worth of retained blocks evict each
        # other out of the one executor's storage pool (measured runs
        # 156 -> 333 -> 303 s at 1M rows — the degradation is block
        # churn, not the job). A real cluster run is one submission per
        # job, so per-rep cleanup is the honest steady state.
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()
    wall = min(runs)
    t0 = time.time()
    acc = 0
    for i in range(10_000_000):
        acc += i
    canary = round(time.time() - t0, 3)
    print(json.dumps({"cores": cores, "wall_sec": round(wall, 3), "n_images": n,
                      "runs": [round(r, 3) for r in runs],
                      "n_pairs": n_pairs, "images_per_sec": round(n / wall, 1),
                      "cpu_canary_sec": canary}))
    spark.stop()


if __name__ == "__main__":
    main()
