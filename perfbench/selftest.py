#!/usr/bin/env python3
"""Self-test: every hashed subset the benchmark draws is the same rows at
local[2] and at local[4].

    python3 perfbench/selftest.py [--seed N]

Builds each workload's fixtures at both core counts and compares the ids
of the kNN points, the kernel-probe batches, the
brute-force kNN check points and the truncated payloads. Exits nonzero
on any difference.
"""

from __future__ import annotations

import argparse
import shutil
import sys

from run import setup_env, stop_spark


def subsets(spark, seed, work) -> dict:
    import workloads as W

    sj = W.SpatialJoin(spark, seed, work)
    sj.build_layer()
    sj.synth()
    cur = W.Curate(spark, seed, work)
    cur.build_layer()
    cur.synth()
    iv = W.IngestValidate(spark, seed)
    iv.synth()

    def ids(df):
        return sorted(r[0] for r in df.select("image_id").collect())

    return {
        "knn points": ids(sj.knn_pts),
        "kNN check points": ids(sj.imgs.filter(
            W.hashed("image_id", seed, sj.knn_check_mod, "knncheck"))),
        "spatial probe batch": ids(sj.imgs.filter(
            W.hashed("image_id", seed, sj.probe_mod, "probe"))),
        "curate probe batch": ids(cur.imgs.filter(
            W.hashed("image_id", seed, cur.probe_mod, "probe"))),
        "truncated payloads": ids(iv.corpus.filter("bad")),
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    work = setup_env("selftest")
    from segment_rtree_spark.session import get_spark

    got = {}
    for cores in (2, 4):
        spark = get_spark(cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        got[cores] = subsets(spark, args.seed, work)
        if cores == 4:
            stop_spark(spark)
        else:
            spark.stop()
    bad = 0
    for name, rows in got[4].items():
        same = rows == got[2][name]
        bad += not same
        print(f"{name:<22} local[2] {len(got[2][name]):>6} rows, local[4] {len(rows):>6} rows: "
              f"{'identical' if same else 'DIFFERENT'}")
    shutil.rmtree(work, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
