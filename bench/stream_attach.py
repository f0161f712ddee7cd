"""Informational throughput for the STREAMING attach paths (not a gate).

Measures incremental micro-batch attach rates over a parquet clips table:
the same 20k-clip synthetic corpus bench.py's q_dedup_clips uses, split
into sequential micro-batches (default 4 x 5k), driven through

  - attach_audio_batch  (audio axis: signatures -> in-batch SNR CC ->
                         sketch-index match -> adopt -> index append)
  - attach_fused_batch  (text + audio axes into one shared label space)

Each batch is timed separately (the index GROWS across batches, so
per-batch time trends are the honest number for a long-running stream).
The index probe is a plain key join over the whole epoch-partitioned keys
table (ids and keys only, no arrays), run with the same number of Spark
jobs at every epoch; a trend rising faster than that key scan grows
would expose an array-table rescan or per-epoch job growth.  Per-run
steal/sy annotations follow the bench.py protocol.

Usage:  python bench/stream_attach.py [n_clips] [n_batches]
Writes one JSON line to stdout; progress to stderr.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_spec = importlib.util.spec_from_file_location(
    "bench_main", os.path.join(REPO, "bench.py")
)
_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_bench)
def _timed(fn):
    # bench.py's window-timer (single source of truth for the /proc/stat
    # column math); this protocol reports (secs, steal%, sy%) only
    secs, steal, sy, _wa = _bench._timed(fn)
    return secs, steal, sy


def main() -> None:
    n_clips = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from lsh_hdc_spark import get_spark
    from lsh_hdc_spark.config import CLIPS
    from lsh_hdc_spark.sources.clips import synth_clips
    from lsh_hdc_spark.streaming import (
        FusedStreamIndex,
        StreamIndex,
        attach_audio_batch,
        attach_fused_batch,
        write_audio_epoch,
        write_fused_epoch,
    )
    from lsh_hdc_spark.streaming.ingest import _write_epoch

    spark = get_spark(cores=cpus, app_name="stream-attach-bench")

    clips_path = f"/tmp/bench_clips_{n_clips}"
    if not os.path.exists(clips_path + "/_SUCCESS"):
        synth_clips(spark, n_clips, seed=42).write.mode("overwrite").option(
            "parquet.enable.dictionary", "false"
        ).parquet(clips_path)
    clips = spark.read.parquet(clips_path)
    idx_expr = F.pmod(F.substring("clip_id", 5, 8).cast("long"), F.lit(n_batches))
    # materialize each micro-batch to parquet OUTSIDE the timed region —
    # a stream's batch arrives as files; synthesizing/filtering is not
    # attach work
    batch_dirs = []
    for k in range(n_batches):
        d = f"/tmp/bench_stream_batch_{n_clips}_{n_batches}_{k}"
        if not os.path.exists(d + "/_SUCCESS"):
            clips.where(idx_expr == k).write.mode("overwrite").option(
                "parquet.enable.dictionary", "false"
            ).parquet(d)
        batch_dirs.append(d)

    out = {"n_clips": n_clips, "n_batches": n_batches, "cpus": int(cpus)}
    for mode in ("audio", "fused"):
        base = tempfile.mkdtemp(prefix=f"bench_stream_{mode}_")
        if mode == "audio":
            index = StreamIndex(f"{base}/sig", f"{base}/labels", f"{base}/keys")
        else:
            index = FusedStreamIndex.at(base)
        per_batch, steals, sys_ = [], [], []
        try:
            for k, d in enumerate(batch_dirs):
                b = spark.read.parquet(d)

                def _job():
                    if mode == "audio":
                        labels, rows = attach_audio_batch(b, index)
                        _write_epoch(labels, index.labels_dir, k, ["epoch"])
                        write_audio_epoch(rows, index, "clip_id", k)
                    else:
                        labels, tr, ar = attach_fused_batch(b, CLIPS, index)
                        _write_epoch(labels, index.labels_dir, k, ["epoch"])
                        write_fused_epoch(tr, ar, index, "clip_id", k)

                secs, steal, sy = _timed(_job)
                per_batch.append(secs)
                steals.append(steal)
                sys_.append(sy)
                print(f"{mode} batch {k}: {secs}s steal={steal}%", file=sys.stderr)
            labels_dir = index.labels_dir
            n_labeled = spark.read.parquet(labels_dir).count()
        finally:
            shutil.rmtree(base, ignore_errors=True)
        total = round(sum(per_batch), 3)
        out[mode] = {
            "per_batch_sec": per_batch,
            "per_batch_steal_pct": steals,
            "per_batch_sy_pct": sys_,
            "total_sec": total,
            "clips_per_sec": round(n_labeled / total, 1),
            "n_labeled": n_labeled,
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
