"""Benchmark of the lsh_hdc_spark dedup engine.

    python3 perfbench/run.py --workload clips_batch --seed 1 --seconds 8 --trace 0

Runs one workload in one process: a Spark session at local[<cpus>] driven
by one closed-loop client (the next op starts when the previous one has
committed its sink).  Set-up builds the inputs from the seed, computes the
references, seeds state and runs a fixed count of discarded warm-up ops.
clips_batch then measures ops for ``--seconds``; fused_stream measures the
same batch of a fixed sequence, so every run sees its index at the same
epoch.
Every op's output is checked.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``; the per-layer metrics with
``--trace 1``, which runs the same untraced ops first, then one op composed
from the layers' public functions with one Spark job group per layer and
the Spark event log on).  The line before it is the run record: set-up
phases, every op with its wall, check result and host steal%/sy% over its
own window, and in a traced run each layer's share of the traced op.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: heap of the Spark JVM: the inputs are tens of MB, and the host is shared
JVM_HEAP = "3g"
#: stop starting ops after this much wall (the run must end within 180 s)
DEADLINE_S = 140

#: spark counters are reported per layer; a layer is one or more job groups
LAYER_GROUPS = {
    "sign": ("sign",),
    "pairs": ("pairs",),
    "cc": ("cc",),
    "payload": ("payload",),
    "audio": ("audio.sign", "audio.pairs", "audio.verify"),
    "attach": ("attach",),
    "sink": ("sink",),
    "substring": ("substring",),
    "knn": ("knn",),
}


@functools.cache
def _spec() -> dict:
    """BENCHMARK.json: the metric names and units the run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _session(work: str, trace: bool):
    """local[<cpus>] session with every scratch path under `work`."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    # the spark-submit launcher JVM, then the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from lsh_hdc_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(
        cores=len(os.sched_getaffinity(0)),
        app_name="perfbench",
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf=conf,
    )


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """The closed loop: runs ops, checks them, keeps one record per op."""

    def __init__(self, wl):
        self.wl = wl
        self.records: list[dict] = []

    def run(self, i: int, phase: str, sp=None) -> dict:
        from perfbench.checks import PairCounts
        from perfbench.trace import HostWindow

        rec = {"op": i, "phase": phase, "error": None}
        pairs, notes = PairCounts(), {}
        with HostWindow() as hw:
            t0 = time.perf_counter()
            try:
                layers = self.wl.traced_op(i, sp) if sp else self.wl.op(i)
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
                layers = None
            rec["wall_s"] = time.perf_counter() - t0
        rec["steal_pct"], rec["sy_pct"] = hw.steal_pct, hw.sy_pct
        if rec["error"] is None:
            try:
                pairs, notes = self.wl.check(i)
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
        if rec["error"]:
            print(f"op {i} ({phase}) failed: {rec['error']}", file=sys.stderr)
        rec["rows"] = 0 if rec["error"] else self.wl.rows_per_op
        rec["pairs"] = pairs
        rec |= notes
        if sp:
            rec["counts"] = layers or {}
        self.records.append(rec)
        return rec


def _end_to_end(measured: list[dict], setup_s: float) -> dict[str, float]:
    from perfbench.checks import PairCounts

    pairs = PairCounts()
    for r in measured:
        pairs += r["pairs"]
    walls = [r["wall_s"] for r in measured]
    return {
        "setup_s": setup_s,
        "rows_per_s": sum(r["rows"] for r in measured) / sum(walls),
        "op_p50_s": statistics.median(walls),
        "dup_recall": pairs.recall,
        "dup_precision": pairs.precision,
        "ok_rate": sum(r["error"] is None for r in measured) / len(measured),
    }


def _layer_metrics(r: dict, counters: dict, op_p50_s: float, wl) -> dict:
    """Per-layer metrics of the traced op `r`."""
    from perfbench.trace import SPARK_COUNTERS

    sp, got = r["spans"], dict(r["counts"])
    w = sp.walls

    def ctr(groups, c):
        return sum(counters.get(sp.group(g), {}).get(c, 0) for g in groups)

    for layer, groups in LAYER_GROUPS.items():
        for c in SPARK_COUNTERS:
            got[f"spark.{layer}.{c}"] = ctr(groups, c)
    op_groups = [g for layer in wl.OP_LAYERS for g in LAYER_GROUPS[layer]]
    for c in SPARK_COUNTERS:
        got[f"spark.op.{c}"] = ctr(op_groups, c)
    cand, ver = got.get("operators.pairs.candidates", 0), got.get("operators.pairs.verified", 0)
    acand = got.get("operators.audio_dedup.candidates", 0)
    aver = got.get("operators.audio_dedup.verified", 0)
    got |= {
        "functions.sign.wall_s": w["sign"],
        "functions.sign.tasks": ctr(["sign"], "tasks"),
        "operators.pairs.verify_yield": ver / cand if cand else 0.0,
        "operators.pairs.wall_s": w["pairs"],
        "operators.pairs.shuffle_mb": ctr(["pairs"], "shuffle_mb"),
        "operators.cc.wall_s": w["cc"],
        "operators.cc.jobs": ctr(["cc"], "jobs"),
        "operators.cc.stages": ctr(["cc"], "stages"),
        "plans.pipeline.payload_wall_s": w["payload"],
        "plans.pipeline.payload_shuffle_mb": ctr(["payload"], "shuffle_mb"),
        "operators.audio_dedup.sign_wall_s": w["audio.sign"],
        "operators.audio_dedup.verify_yield": aver / acand if acand else 0.0,
        "operators.audio_dedup.verify_wall_s": w["audio.verify"],
        "streaming.attach_wall_s": w["attach"],
        "streaming.sink_wall_s": w["sink"],
        "streaming.jobs_per_batch": ctr(["attach", "sink"], "jobs"),
        "operators.substring.winnow_wall_s": w["substring.winnow"],
        "operators.substring.wall_s": w["substring"],
        "operators.knn.wall_s": w["knn"],
        "trace.overhead_s": r["wall_s"] - op_p50_s,
    }
    # metrics of a layer the workload does not run read 0
    return {m["name"]: got.get(m["name"], 0) for m in _spec()["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the smoke test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import lsh_hdc_spark  # the program under test
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(lsh_hdc_spark.__file__))) != ROOT:
        print(f"lsh_hdc_spark is not the copy in {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench", f"{tag}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    try:
        record, metrics, units = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    timed = [o for o in record["ops"] if o["phase"] != "warmup"]
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": all(o["error"] is None for o in record["ops"]),
                "attempted": len(timed),
                "failed": sum(1 for o in timed if o["error"]),
                "metrics": {
                    n: {"value": v, "unit": units[n]} for n, v in metrics.items()
                },
            }
        )
    )
    return 0


def _run(args, work: str) -> tuple[dict, dict, dict]:
    """One run in a fresh Spark session: (run record, metrics, units)."""
    from perfbench.workloads import WORKLOADS

    spark = _session(work, bool(args.trace))
    phases = {"session": _process_age_s()}
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.size)
        runner = Runner(wl)
        wl.setup(lambda phase: phases.__setitem__(phase, _process_age_s()))
        ops = itertools.count()
        for _ in range(wl.WARMUP_OPS):
            runner.run(next(ops), "warmup")
        setup_s = _process_age_s()

        t0 = time.perf_counter()
        measured = []
        while True:
            measured.append(runner.run(next(ops), "measure"))
            if wl.FIXED_OPS:
                if len(measured) == wl.FIXED_OPS:
                    break
            elif time.perf_counter() - t0 >= args.seconds or _process_age_s() > DEADLINE_S:
                break
        e2e = _end_to_end(measured, setup_s)

        if args.trace:
            from perfbench.trace import Spans, jvm_rss_peak_mb

            i = next(ops)
            sp = Spans(spark, i)
            traced = runner.run(i, "traced", sp)
            traced["spans"] = sp
            # a traced op's wall: its layers only (probes excluded)
            traced["wall_s"] = sum(
                sp.walls[g] for layer in wl.OP_LAYERS for g in LAYER_GROUPS[layer]
            )
            rss = jvm_rss_peak_mb(spark)
    finally:
        _stop(spark)

    if args.trace:
        from perfbench.trace import event_log_counters

        counters = event_log_counters(os.path.join(work, "events"))
        metrics = _layer_metrics(traced, counters, e2e["op_p50_s"], wl)
        metrics["jvm.rss_peak_mb"] = rss
        units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    else:
        metrics = e2e
        units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "size": args.size,
        "end_to_end": e2e,
        # process age at the end of each set-up phase
        "setup_phases_s": phases | {"warmup": e2e["setup_s"]},
        "ops": [
            {k: v for k, v in r.items() if k not in ("pairs", "spans")}
            | {"recall": r["pairs"].recall, "precision": r["pairs"].precision}
            | ({"walls": dict(r["spans"].walls)} if "spans" in r else {})
            for r in runner.records
        ],
    }
    if args.trace:
        record["per_layer"] = metrics
        # each layer span's wall as a share of the traced op's wall
        record["layer_share"] = {
            k: v / traced["wall_s"] for k, v in traced["spans"].walls.items()
        }
    return record, metrics, units


if __name__ == "__main__":
    sys.exit(main())
