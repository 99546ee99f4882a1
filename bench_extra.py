"""Round-8 optimization harness: per-query isolation on top of the
FROZEN bench.py (which must not change — the driver times the
round-start copy).

Usage:
  python bench_extra.py [time [query ...]]    -> wall-clock timing per
      query (guide §1.4), min of BENCH_EXTRA_REPEAT reps (default 3),
      printed as one JSON line.

Plans: `python tools/dump_plans.py <tag> [name ...]`. Per-stage time of
the curate cascade: `python perfbench/run.py --trace 1`, which times
the pipeline's own stages.

Uses the same fixtures, env contract and session as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench as B  # the frozen harness: reuse fixtures + warmup


def get_session():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from segment_rtree_spark.session import get_spark

    spark = get_spark(cores=cores, app="bench_extra")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, sf_dir, cores


def warmup(spark, imgs, cores):
    import pandas as _pd  # noqa: F401

    def _hold(batches):
        import time as _t

        _t.sleep(0.4)
        for b in batches:
            yield b

    spark.range(2 * cores).repartition(2 * cores, "id").mapInPandas(
        _hold, "id long"
    ).count()
    from segment_rtree_spark.operators.pip_join import (
        pip_join_broadcast as _pb,
        pip_join_partitioned as _pp,
    )

    layer = B.build_layer()
    tiny = imgs.limit(2000)
    _pb(tiny, layer, keep=["image_id"]).count()
    _pp(tiny, layer, keep=["image_id"], res=6, salt_threshold=20000, n_salt=8).count()


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:] or None
    spark, sf_dir, cores = get_session()
    only = set(names) if names else None
    queries, imgs = B.bench_queries(spark, sf_dir, only)
    imgs.count()
    warmup(spark, imgs, cores)

    if mode == "time":
        repeat = int(os.environ.get("BENCH_EXTRA_REPEAT", "3"))
        times = {n: float("inf") for n in queries}
        for _ in range(repeat):
            for name, fn in queries.items():
                spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                t0 = time.time()
                fn()
                times[name] = min(times[name], time.time() - t0)
        t0 = time.time()
        acc = 0
        for i in range(10_000_000):
            acc += i
        canary = round(time.time() - t0, 3)
        print(json.dumps({
            "queries": {n: round(t, 3) for n, t in times.items()},
            "total": round(sum(times.values()), 3),
            "cpu_canary_sec": canary,
        }))
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
