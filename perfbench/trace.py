"""Measurement from outside the program: host CPU annotations per op,
Spark event-log counters per job group, and layer spans timed around
calls into the program's public functions."""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: Spark counters summed per job group (one group per layer)
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "task_cpu_s",
    "gc_s",
    "shuffle_mb",
    "spill_mb",
)
_MB = 1 << 20


def _cpu_ticks() -> list[int]:
    """user nice system idle iowait irq softirq steal, from /proc/stat."""
    with open("/proc/stat") as fh:
        return list(map(int, fh.readline().split()[1:9]))


class HostWindow:
    """steal% and sy% of all CPUs over one op's window, the same
    /proc/stat column arithmetic as bench.py's ``_timed``.  Describes an
    op; excludes none."""

    def __enter__(self) -> "HostWindow":
        self._a = _cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        d = [y - x for x, y in zip(self._a, _cpu_ticks())]
        tot = max(sum(d), 1)
        self.steal_pct = 100 * d[7] / tot
        self.sy_pct = 100 * d[2] / tot


class Spans:
    """Layer spans of one traced op: wall time around each call into a
    layer, with the Spark job group set to the layer's name so the event
    log attributes every job to it."""

    def __init__(self, spark, op: int):
        self._sc = spark.sparkContext
        self.op = op
        self.walls: dict[str, float] = defaultdict(float)

    def group(self, layer: str) -> str:
        return f"op{self.op}:{layer}"

    @contextmanager
    def layer(self, name: str):
        self._sc.setJobGroup(self.group(name), name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            self._sc.setJobGroup("bench:untraced", "untraced")


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {counter: value}} from the (finished) event log in
    log_dir.  Stages are attributed to the first job that lists them and
    counted once per attempt that ran; tasks count every attempt."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS, 0))
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid, "none")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = out[stage_group.get(ev["Stage ID"], "none")]
                c["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["shuffle_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
                )
                c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
    return dict(out)


def jvm_rss_peak_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def parquet_rows(path: str) -> int:
    """Rows of a parquet directory, from the file footers only."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def dir_stats(path: str) -> tuple[int, int]:
    """(regular files, bytes) under path."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
