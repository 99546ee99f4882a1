"""Measurement plumbing: spans, Spark event-log metrics, peak RSS, host facts.

Nothing here reaches into the engine. Spans are timed around calls the
benchmark makes; Spark-stage numbers come from Spark's own event log,
switched on through a conf dir the benchmark writes (SPARK_CONF_DIR).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str, extra: dict):
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f)


def write_event_log_conf(work: str) -> str:
    """A Spark conf dir that turns on a plain, single-file event log.

    Returns the event-log directory. Compression and rolling are off so
    the log is one JSON-lines file readable after the context stops."""
    conf_dir = os.path.join(work, "sparkconf")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(conf_dir, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.eventLog.enabled true\n"
            f"spark.eventLog.dir file://{log_dir}\n"
            "spark.eventLog.compress false\n"
            "spark.eventLog.rolling.enabled false\n"
        )
    os.environ["SPARK_CONF_DIR"] = conf_dir
    return log_dir


def read_event_log(path: str) -> dict:
    """Sum TaskEnd metrics per job group (the group the benchmark set
    around each operator call). Returns group -> stats dict."""
    stage_group: dict[tuple, str] = {}
    groups: dict[str, dict] = {}
    stage_tasks: dict[tuple, list] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    groups.setdefault(g, _empty_group())["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                info = ev["Stage Info"]
                if g:
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                g = stage_group.get(key)
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                s = groups.setdefault(g, _empty_group())
                run_ms = m.get("Executor Run Time", 0)
                s["tasks"] += 1
                s["executor_run_s"] += run_ms / 1e3
                s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                s["spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
                stage_tasks.setdefault(key, []).append(run_ms)
    for key, runs in stage_tasks.items():
        s = groups[stage_group[key]]
        s["_stages"].append(runs)
    return groups


def _empty_group() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "_stages": []}


def merge_groups(stats: list[dict]) -> dict:
    out = _empty_group()
    for s in stats:
        for k in out:
            out[k] += s[k]
    return out


def task_skew(stages: list[list]) -> float:
    """Max over median task run time in the widest stage."""
    if not stages:
        return 1.0
    widest = max(stages, key=lambda r: (len(r), sum(r)))
    med = statistics.median(widest)
    return max(widest) / med if med > 0 else 1.0


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(d))
    return kids


def _tree(pid: int) -> list[int]:
    """`pid` and every process below it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p not in out:
            out.append(p)
            todo.extend(_children(p))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_parts_mb(jvm_pid: int) -> tuple[float, list[float]]:
    """VmHWM in MB of the driver JVM, and of every process below it (the
    PySpark daemons and their Python workers)."""
    jvm, *below = (_vm_hwm_kb(p) / 1024.0 for p in _tree(jvm_pid))
    return jvm, below


def cpu_canary_s() -> float:
    """The fixed pure-Python loop bench.py records, for host-speed context."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i
    return time.perf_counter() - t0


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine's CPUs
    since boot (the `steal` column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "cpu_canary_s": round(cpu_canary_s(), 4)}
