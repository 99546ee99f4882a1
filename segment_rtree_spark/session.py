"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class cache size (spark.sql.codegen.cache.maxEntries).
# Working sets measured on local[4]: one perfbench curate_ingest round
# compiles about 190 distinct classes, both perfbench workloads in one
# session about 270, the seven curate + spatial calls of
# tests/test_codegen_reuse.py on a 3,000-image corpus 209, and bench.py's
# 17 queries at sf0.01 328. At Spark's default of 100 every curate round
# recompiled about 186 classes (1.4 s of Janino time) and bench.py
# compiled 1,096 classes over three rounds instead of 358. 1000 keeps
# the largest working set twice over.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(cores: int | None = None, app: str = "segment-rtree-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """local[cores] session; AQE + Arrow on, skew-join handling enabled.

    On a real cluster the same configs apply (minus master); partition
    sizing follows spark.sql.files.maxPartitionBytes so 100 TB scans
    split into ~128 MB tasks. Python workers fork from the engine's
    daemon (worker_daemon.py), which drops two fixed per-task costs:
    zip directory re-reads and the full-heap GC. Spark's generated-class
    cache holds the engine's working set (CODEGEN_CACHE_ENTRIES), so a
    repeated plan runs classes compiled once, not recompiled per call.
    """
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(32, cores)
    # Heap scales with the task-slot count: local mode runs all slots
    # in ONE JVM, so a flat 8g at 32 slots is 250 MB/slot — execution
    # memory, broadcasts, and localCheckpoint blocks then evict/spill
    # mid-run (measured ~5-15% drag across a 17-query bench vs a
    # right-sized heap). 512 MB/slot matches ordinary executor sizing
    # (e.g. 8 cores / 4 GB), so the same default is production-shaped,
    # not a local[32] tune; SPARK_DRIVER_MEM still overrides.
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", f"{max(8, cores // 2)}g")
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer shuffled-hash joins over sort-merge when sizes allow
        # (guide §3.1): the band self-joins shuffle millions of narrow
        # rows whose sort-merge sort is pure overhead — bucket sizes
        # are bounded by construction (tiling/cap guards), and AQE's
        # skew handling still applies. The static flag alone rarely
        # fires (mid-plan stats are unknown), so AQE's runtime
        # SMJ->SHJ rewrite is armed too: it converts only when every
        # post-shuffle partition is measured below the threshold, so
        # the per-task hash map is bounded by actual bytes, not
        # estimates — safe at any scale by definition of the check.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m"
        )
        # AQE's parallelism-first coalescing sizes post-shuffle stages
        # by BYTES (>= minPartitionSize each); stages that shuffle few
        # compressed bytes but expand into heavy per-row kernel work
        # (per-bucket BLAS refine, banded verifies, label folds) get
        # squeezed below the core count — measured 16 of 32 slots busy
        # across the curation cascade's mid stages at the 1m default.
        # 256k keeps such stages at full width while still coalescing
        # truly tiny shuffles; byte-heavy stages are governed by the
        # 64m advisory target as before, at any scale.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "256k"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "segment_rtree_spark.worker_daemon")
        # Spark's generated-class cache, keyed by the generated Java
        # source: it holds compiled classes, never a plan, result or
        # data. A static conf, so a session must start with it.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
