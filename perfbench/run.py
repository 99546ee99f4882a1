#!/usr/bin/env python3
"""Repository benchmark: seeded workloads on local[4], output-checked.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One process drives one get_spark(cores=4) session as a closed loop: each
operator call finishes before the next starts. --trace 0 prints the
end-to-end metrics; --trace 1 turns on Spark's event log and prints the
per-layer metrics, plus the tracing overhead against the last untraced
run of the same workload, seed and sources in this checkout. The last
stdout line is one JSON object; the exit code is nonzero if any operator
call raised or failed its output check.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORES = 4
NCPU = os.cpu_count()
# a measured call is made again if the hypervisor withheld more than this
# share of the machine's CPU time while it ran (quiet calls on the 4-vCPU
# reference host: 0.2-0.8%; calls slowed 10-15% by a busy host: 2-5%)
STEAL_LIMIT = 0.015
RETRY_BUDGET_S = 8.0  # at most this much measuring time per run goes to repeats
SETUP_REPS = 3
WORKLOADS = ("spatial_join", "curate_ingest")

END_TO_END = {"images_per_s": "images/s", "setup_s": "s", "worker_peak_rss_mb": "MB"}

OPS = {  # operator -> (throughput metric, unit)
    "pip_broadcast": ("images_per_s", "images/s"),
    "pip_partitioned": ("images_per_s", "images/s"),
    "knn": ("points_per_s", "points/s"),
    "tile_pyramid": ("images_per_s", "images/s"),
    "curate_multimodal": ("images_per_s", "images/s"),
    "curate_images": ("images_per_s", "images/s"),
    "curate_checkpointed": ("images_per_s", "images/s"),
    "validate": ("images_per_s", "images/s"),
}
STAGE = {"jobs": "count", "tasks": "count", "slot_util": "ratio", "executor_run_s": "s",
         "executor_cpu_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
         "task_skew": "ratio"}
CODECS = ("png", "jpeg", "jpeg_prog", "bmp", "gif", "tiff", "webp", "tiff_g4")

PER_LAYER = {
    "setup.session_s": "s", "setup.synth_s": "s", "setup.warmup_s": "s", "layer.build_s": "s",
    "kernels.pip.s_per_mpt": "s/Mpt", "kernels.pip.candidates_per_pt": "count",
    "kernels.pip.hit_ratio": "ratio", "kernels.boundary_distance.s_per_pair": "s/pair",
    "tiles.cover_s": "s", "tiles.cover_rows": "rows",
    **{f"codec.{c}.decode_mb_per_s": "MB/s" for c in CODECS},
    **{f"{op}.{m}": u for op, (m, u) in OPS.items()},
    **{f"{op}.{k}": u for op in OPS for k, u in STAGE.items()},
    "pip_broadcast.udf_boundary_s": "s", "knn.udf_boundary_s": "s",
    "validate.udf_boundary_s": "s",
    "dedup.crossmodal_group_labels_s": "s", "embed.embedding_neardup_pairs_s": "s",
    "dedup.phash_group_labels_s": "s", "pip_join.pip_count_broadcast_s": "s",
    "curate_multimodal.dup_share": "ratio",
    "checkpoint.bytes_per_image": "bytes", "checkpoint.files_written": "count",
    "checkpoint.key_batch_s": "s", "checkpoint.rerun_keys": "count",
    "checkpoint.write_overhead": "ratio",
    "jvm.peak_rss_mb": "MB", "trace.round_s": "s", "trace.overhead_s": "s",
    "measure.retried_calls": "count",
}


def quartiles(xs):
    xs = [x for x in xs if x is not None]
    if not xs:
        return None, None, None
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summary_line(name, unit, samples):
    q1, med, q3 = quartiles(samples)
    if med is None:
        return f"  {name:<44} {'-':>14} {unit}"
    return (f"  {name:<44} {med:>14.6g} {unit:<9} q1 {q1:.6g}  q3 {q3:.6g}  "
            f"n {len(samples)}")


def reference_path(args) -> str:
    """Where an untraced run leaves its round time for the traced run."""
    return os.path.join(REPO, ".perfbench", "reference", f"{args.workload}-{args.seed}.json")


def source_digest() -> str:
    """sha256 over the engine's and the benchmark's Python sources, so a
    traced run is compared only with an untraced run of the same code."""
    h = hashlib.sha256()
    for top in ("segment_rtree_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(REPO, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, REPO).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def setup_env(name: str) -> str:
    """A fresh scratch dir in the checkout, and the environment that keeps
    Spark, the JVM and the Python workers inside it. Returns the dir."""
    work = os.path.join(REPO, ".perfbench", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # workers import the engine and these modules from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["NUMPY_MADVISE_HUGEPAGE"] = "0"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData").strip()
    sys.path[:0] = [REPO, HERE]
    return work


def stop_spark(spark):
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes, taking the Python workers with it), and wait for it."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)


def run_workload(args) -> int:
    work = setup_env(f"{args.workload}-{args.seed}")

    import tracing

    if args.trace:
        log_dir = tracing.write_event_log_conf(work)

    from segment_rtree_spark.session import get_spark
    import workloads

    facts = tracing.host_facts()
    tracer = tracing.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    calls = {}      # op -> [seconds]
    rounds = []     # seconds per full round
    stolen = []     # CPU seconds the hypervisor withheld during each round
    failures = []   # (what, error)
    attempted = 0
    retried = 0     # measured calls made again because of hypervisor steal
    retry_s = 0.0   # seconds those calls took
    made = {}       # op -> [seconds] of every measured call, retries too
    layer_m = {k: 0.0 for k in PER_LAYER}

    with tracer.span("run"):
        with tracer.span("setup"):
            t0 = time.perf_counter()
            with tracer.span("session"):
                spark = get_spark(cores=CORES)
                spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            sc = spark.sparkContext
            sc.setJobGroup("setup", "setup")

            def hold(batches):
                import time as _t

                _t.sleep(0.3)
                yield from batches

            t0 = time.perf_counter()
            with tracer.span("warmup.workers"):
                spark.range(2 * CORES).repartition(2 * CORES).mapInPandas(hold, "id long").count()
            warm_workers_s = time.perf_counter() - t0

            wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
            layer_s, synth_s, prev = [], [], None
            for _ in range(SETUP_REPS):
                with tracer.span("setup.layer") as s:
                    wl.build_layer()
                layer_s.append(s["end"] - s["start"])
                with tracer.span("setup.synth") as s:
                    fixture = wl.synth()
                synth_s.append(s["end"] - s["start"])
                for df in prev or ():
                    df.unpersist()
                prev = fixture
            wl.prepare()  # the expected outputs; not set-up cost
            ops = wl.ops()
            state = wl.state()

            def attempt(name, fn, group):
                """One checked call; a raise or a failed check is data."""
                nonlocal attempted
                attempted += 1
                sc.setJobGroup(group, name)
                with tracer.span(name) as s:
                    try:
                        err = fn()
                    except Exception as e:
                        err = f"{type(e).__name__}: {e}"
                if err:
                    failures.append((name, err))
                return s["end"] - s["start"]

            def checked(op):
                return lambda: op.check(op.fn(), state)

            # one checked, unmeasured round on the same inputs: worker
            # imports, code generation, broadcasts and the first JIT pass
            # land in set-up, not in the timings
            warm_ops = {}
            with tracer.span("warmup.ops"):
                for op in ops:
                    warm_ops[op.name] = attempt(op.name, checked(op), "warmup")
            warmup_s = warm_workers_s + sum(warm_ops.values())
            setups = [session_s + warmup_s + a + b for a, b in zip(layer_s, synth_s)]

        def call(op, r, retry=True):
            """One measured call. If the hypervisor withheld more than
            STEAL_LIMIT of the machine's CPU time while it ran, the call is
            made once more (unless `retry` is off or the run's repeats would
            pass RETRY_BUDGET_S) and the one with the smaller steal share is
            kept: a neighbour's burst on the shared host, not the program,
            set its time."""
            nonlocal retried, retry_s
            kept = None
            for k in range(2 if retry else 1):
                steal0 = tracing.cpu_steal_s()
                dt = attempt(op.name, checked(op), f"{op.name}#{r}.{k}")
                made.setdefault(op.name, []).append(dt)
                share = (tracing.cpu_steal_s() - steal0) / (dt * NCPU)
                if k:
                    retried += 1
                    retry_s += dt
                if kept is None or share < kept[1]:
                    kept = (dt, share)
                if share <= STEAL_LIMIT or retry_s + dt > RETRY_BUDGET_S:
                    break
            calls.setdefault(op.name, []).append(kept[0])

        # a fixed number of rounds per workload: a time-boxed loop would
        # measure fewer, less warmed-up rounds on a slower host
        n_rounds = max(1, round(args.seconds / wl.round_s))
        with tracer.span("measure"):
            for r in range(n_rounds):
                steal_round = tracing.cpu_steal_s()
                for op in ops:
                    call(op, r)
                rounds.append(sum(calls[op.name][-1] for op in ops))
                stolen.append(tracing.cpu_steal_s() - steal_round)
        with tracer.span("checks"):
            for name, fn in wl.final_checks():
                attempt(name, fn, "check")
        jvm_mb, py_mb = tracing.peak_rss_parts_mb(sc._gateway.proc.pid)

        if args.trace:
            extra = wl.traced_ops()
            for op in extra:  # writes its own root: made once
                call(op, 0, retry=False)
            ops += extra
            sc.setJobGroup("probe", "probe")
            med = {op: statistics.median(ts) for op, ts in calls.items()}
            with tracer.span("probes"):
                probes = wl.probes(med)
            app_id = sc.applicationId
        stop_spark(spark)

    images = wl.images
    e2e = {
        "images_per_s": [images / t for t in rounds],
        "setup_s": setups,
        "worker_peak_rss_mb": [sum(py_mb)],
    }
    print(f"host: nproc {facts['nproc']}, memory {facts['mem_total_mb']} MB, "
          f"cpu canary {facts['cpu_canary_s']:.3f} s; cores {CORES}, seed {args.seed}")
    print(f"workload {args.workload}: {images} images, {len(rounds)} rounds "
          f"in {sum(rounds):.2f} s ({images * len(rounds) / sum(rounds):.6g} images/s), "
          f"{sum(stolen):.2f} CPU s stolen by the hypervisor meanwhile; "
          f"{retried} measured calls made again for steal over {STEAL_LIMIT:.1%}")
    print(f"setup: session {session_s:.2f} s, warm-up {warmup_s:.2f} s "
          f"(workers {warm_workers_s:.2f} s), synth {', '.join(f'{t:.2f}' for t in synth_s)} s, "
          f"layer {', '.join(f'{t:.3f}' for t in layer_s)} s")
    print("warm-up calls: " + ", ".join(f"{k} {v:.2f} s" for k, v in warm_ops.items()))
    print(f"peak RSS: JVM {jvm_mb:.0f} MB, {len(py_mb)} Python processes "
          f"{sum(py_mb):.0f} MB ({', '.join(f'{m:.0f}' for m in sorted(py_mb, reverse=True))})")
    print("operator calls (closed loop):")
    by_name = {op.name: op for op in ops}
    for name, ts in calls.items():
        op = by_name[name]
        metric, unit = OPS[name]
        print(summary_line(f"{name}.{metric}", unit, [op.items / t for t in ts]))
    print("end-to-end:")
    for name, unit in END_TO_END.items():
        print(summary_line(name, unit, e2e[name]))
    print(summary_line("failed_ops_frac", "ratio", [len(failures) / max(1, attempted)]))
    for what, err in failures:
        print(f"FAILED {what}: {err}")

    if args.trace:
        stats = tracing.read_event_log(os.path.join(log_dir, app_id))
        layer_m["setup.session_s"] = session_s
        layer_m["setup.synth_s"] = statistics.median(synth_s)
        layer_m["setup.warmup_s"] = warmup_s
        layer_m["layer.build_s"] = statistics.median(layer_s)
        for name, ts in calls.items():
            op = by_name[name]
            layer_m[f"{name}.{OPS[name][0]}"] = op.items / statistics.median(ts)
            g = tracing.merge_groups([v for k, v in stats.items()
                                      if k.split("#")[0] == name])
            n = len(made[name])
            for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                      "shuffle_write_bytes", "spill_bytes"):
                layer_m[f"{name}.{k}"] = g[k] / n
            layer_m[f"{name}.slot_util"] = g["executor_run_s"] / (sum(made[name]) * CORES)
            layer_m[f"{name}.task_skew"] = tracing.task_skew(g["_stages"])
            kernel_s = probes.pop(f"_kernel_s.{name}", None)
            if kernel_s is not None:
                layer_m[f"{name}.udf_boundary_s"] = g["executor_run_s"] / n - kernel_s
        if "dup_share" in state:
            layer_m["curate_multimodal.dup_share"] = state["dup_share"]
        layer_m.update(probes)
        layer_m["jvm.peak_rss_mb"] = jvm_mb
        layer_m["measure.retried_calls"] = retried
        layer_m["trace.round_s"] = statistics.median(rounds)
        ref = {}
        if os.path.exists(reference_path(args)):
            with open(reference_path(args)) as f:
                ref = json.load(f)
        if ref.get("source") == source_digest():
            untraced = ref["round_s"]
            layer_m["trace.overhead_s"] = layer_m["trace.round_s"] - untraced
            print(f"tracing overhead: {layer_m['trace.overhead_s']:+.3f} s per round "
                  f"(traced {layer_m['trace.round_s']:.3f} s, untraced {untraced:.3f} s, "
                  f"measured {time.time() - ref['time']:.0f} s earlier)")
        else:
            print("tracing overhead: no untraced run of this workload, seed and sources yet")
        print("per-layer (traced run; 0 = the workload does not run that layer):")
        for name, unit in PER_LAYER.items():
            print(f"  {name:<44} {layer_m[name]:>14.6g} {unit}")
        os.makedirs(os.path.join(REPO, ".perfbench", "traces"), exist_ok=True)
        tracer.write(
            os.path.join(REPO, ".perfbench", "traces", f"{args.workload}-{args.seed}.json"),
            {"host": facts, "per_layer": layer_m, "stages": {
                k: {kk: vv for kk, vv in v.items() if kk != "_stages"}
                for k, v in stats.items()}},
        )
        metrics = {k: {"value": layer_m[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": quartiles(e2e[k])[1], "unit": u} for k, u in END_TO_END.items()}
        os.makedirs(os.path.dirname(reference_path(args)), exist_ok=True)
        with open(reference_path(args), "w") as f:
            json.dump({"round_s": statistics.median(rounds), "source": source_digest(),
                       "time": time.time()}, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 1 if failures else 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each run in its own process."""
    ok, attempted, failed, metrics = True, 0, 0, {}
    for name in WORKLOADS:
        for trace in (0, 1):
            print(f"== {name}, trace {trace}", flush=True)
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines() or ["{}"]
            print("\n".join(lines[:-1]), flush=True)
            res = json.loads(lines[-1])
            ok &= proc.returncode == 0 and res.get("correct", False)
            attempted += res.get("attempted", 0)
            failed += res.get("failed", 0)
            metrics.update({f"{name}.{k}": v for k, v in res.get("metrics", {}).items()})
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(REPO, "segment_rtree_spark", "session.py")):
        print("perfbench: the engine sources (segment_rtree_spark/) are not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS} or all",
              file=sys.stderr)
        return 2
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
