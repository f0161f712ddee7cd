"""Streaming incremental dedup on the AUDIO axis (streaming/audio_ingest.py):
attach semantics against the synth family ground truth, greedy-drift repair
via rebuild_audio_index (an engineered bridge corpus where the connector
arrives last), the sketch-only index contract, the stream-drain path, and
the shared rebuild/stream lease."""

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_hdc_spark.functions.audio import pcm16_to_wav
from lsh_hdc_spark.sources.clips import synth_clips
from lsh_hdc_spark.streaming import (
    StreamIndex,
    attach_audio_batch,
    rebuild_audio_index,
    run_audio_attach_stream,
    seed_audio_index,
    write_audio_epoch,
)
from lsh_hdc_spark.streaming.ingest import _lock_path, _write_epoch

N = 120  # 84 family rows (21 families of 4) + 36 singletons
N_FAM = 84


@pytest.fixture()
def index(tmp_path):
    return StreamIndex(
        str(tmp_path / "sig"), str(tmp_path / "labels"), str(tmp_path / "keys")
    )


def _idx(clip_id_col):
    return F.substring(clip_id_col, 5, 8).cast("long")


def _attach_mod3(spark, index, n=N):
    """Feed synth_clips(n) through three sequential micro-batches split by
    id mod 3 and return {clip_id: cluster_id} of the accumulated labels."""
    clips = synth_clips(spark, n, seed=42)
    for k in range(3):
        b = clips.where(F.pmod(_idx(F.col("clip_id")), F.lit(3)) == k)
        labels, rows = attach_audio_batch(b, index)
        _write_epoch(labels, index.labels_dir, k, ["epoch"])
        write_audio_epoch(rows, index, "clip_id", k)
    return {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }


def _greedy_root(i: int) -> int:
    """Expected greedy-attach cluster root: the family's first batch-0
    (id % 3 == 0) member — families are 4 consecutive ids, so every family
    has one; singletons label themselves."""
    if i >= N_FAM:
        return i
    s = (i // 4) * 4
    return s + ((3 - s % 3) % 3)


def test_attach_matches_family_ground_truth(spark, index):
    got = _attach_mod3(spark, index)
    assert len(got) == N
    for cid, label in got.items():
        i = int(cid[4:])
        assert label == f"clip{_greedy_root(i):08d}", cid


def test_rebuild_canonicalizes_labels(spark, index):
    _attach_mod3(spark, index)
    rebuild_audio_index(spark, index)
    got = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    # full-CC labels: family min member (== audio_dedup_clusters semantics)
    for cid, label in got.items():
        i = int(cid[4:])
        root = (i // 4) * 4 if i < N_FAM else i
        assert label == f"clip{root:08d}", cid
    # re-running converges (idempotent compaction)
    rebuild_audio_index(spark, index)
    again = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert again == got


def _bridge_clip(e_beta: float) -> bytes:
    """Two bin-aligned tones at 16 kHz/1 s: a fixed carrier plus a 3 kHz
    tone of band-energy ratio `e_beta` — spectral distance between two such
    clips is |e_a - e_b| / (1 + max(e_a, e_b)) by construction."""
    sr = 16000
    t = np.arange(sr) / sr
    sig = 16000.0 * np.sin(2 * np.pi * 500 * t) + np.sqrt(e_beta) * 16000.0 * np.sin(
        2 * np.pi * 3000 * t
    )
    return pcm16_to_wav(np.clip(sig, -32768, 32767).astype(np.int16), sr)


def test_rebuild_merges_spec_bridged_clusters(spark, index):
    """Greedy drift on the audio axis: A (batch 0) and B (batch 1) sit just
    OUTSIDE the spectral tolerance of each other (dist 0.016 > 0.01), so B
    opens its own cluster; connector C (batch 2) is within tolerance of
    BOTH (dist 0.0081 / 0.0080) and greedily adopts its single best match
    (B, by the min-distance rule) without merging — stranding A.
    rebuild_audio_index re-runs CC over the accumulated sketches and must
    weld all three into one cluster."""
    rows = {"a": 0.29, "b": 0.311, "c": 0.3005}
    schema = "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
    for k, cid in enumerate(["a", "b", "c"]):
        b = spark.createDataFrame(
            [(cid, bytearray(_bridge_clip(rows[cid])), 16000, 1000, "pcm_s16le", "x")],
            schema,
        )
        labels, new_rows = attach_audio_batch(b, index)
        _write_epoch(labels, index.labels_dir, k, ["epoch"])
        write_audio_epoch(new_rows, index, "clip_id", k)
    greedy = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert greedy == {"a": "a", "b": "b", "c": "b"}  # drift: a stranded
    rebuild_audio_index(spark, index)
    rebuilt = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert rebuilt == {"a": "a", "b": "a", "c": "a"}


def test_index_stores_sketches_not_bytes(spark, index):
    """The scale contract: no payload column in any index table."""
    _attach_mod3(spark, index, n=24)
    for d in (index.sig_dir, index.keys_dir, index.labels_dir):
        cols = spark.read.parquet(d).columns
        assert "bytes" not in cols and "transcript" not in cols, d


def test_run_audio_attach_stream_drains(spark, index, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    clips = synth_clips(spark, 24, seed=42)
    clips.where(_idx(F.col("clip_id")) < 12).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    clips.where(_idx(F.col("clip_id")) >= 12).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    schema = spark.read.parquet(src).schema
    run_audio_attach_stream(
        spark, src, schema, index, str(tmp_path / "ckpt"), available_now=True
    )
    got = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert len(got) == 24
    # families (ids < 16 at n=24) co-labeled regardless of the batch cut;
    # singletons (ids >= 16) label themselves
    roots = {}
    for cid, label in got.items():
        i = int(cid[4:])
        if i >= 16:
            assert label == cid
            continue
        roots.setdefault(i // 4, label)
        assert roots[i // 4] == label, cid
    assert not os.path.exists(_lock_path(index))  # lease released


def test_audio_index_match_plan_shape(spark, index):
    """Scale shape of the audio attach join (mirrors the text path's
    test_index_match_plan_shape): the key-index scan reads only (key, id,
    cluster_id) — no array columns; the profile table is scanned exactly
    once, reading only (id, spec, n_samples) — the stored keys stay
    unread."""
    from lsh_hdc_spark.operators.audio_dedup import audio_signatures
    from lsh_hdc_spark.streaming.audio_ingest import audio_axis
    from lsh_hdc_spark.streaming.ingest import _best_match

    _attach_mod3(spark, index, n=24)
    batch = synth_clips(spark, 4, seed=7)
    sigs = audio_signatures(batch, "clip_id").localCheckpoint(eager=True)
    best = _best_match(sigs, index, audio_axis("clip_id"), "clip_id")
    plan = spark._jvm.PythonSQLUtils.explainString(
        best._jdf.queryExecution(), "formatted"
    )

    def scan_fields(path):
        return [
            set(re.findall(r"(\w+):", b.split("ReadSchema: ")[1].split("\n")[0]))
            for b in plan.split("\n\n")
            if "Scan parquet" in b and f"{path}]" in b
        ]

    assert scan_fields(index.keys_dir) == [{"clip_id", "cluster_id", "key"}], plan
    assert scan_fields(index.sig_dir) == [{"clip_id", "spec", "n_samples"}], plan


def test_seed_then_attach(spark, index):
    """Batch -> streaming migration: seed the index from the BATCH audio
    pipeline on the even ids, then attach the odd ids as one micro-batch —
    every family must co-label with its seeded members (labels are the
    batch pipeline's family minima, since seeding clusters even members
    together and attach adopts)."""
    clips = synth_clips(spark, 48, seed=42).localCheckpoint(eager=True)
    even = clips.where(_idx(F.col("clip_id")) % 2 == 0)
    odd = clips.where(_idx(F.col("clip_id")) % 2 == 1)
    seed_audio_index(spark, even, index)
    labels, rows = attach_audio_batch(odd, index)
    _write_epoch(labels, index.labels_dir, 0, ["epoch"])
    write_audio_epoch(rows, index, "clip_id", 0)
    got = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert len(got) == 48
    n_fam = 32  # (int(48*0.7) // 4) * 4
    for cid, label in got.items():
        i = int(cid[4:])
        # family root = min even member = the family start (always even)
        root = (i // 4) * 4 if i < n_fam else i
        assert label == f"clip{root:08d}", cid


def test_audio_rebuild_refuses_while_stream_active(spark, index):
    _attach_mod3(spark, index, n=24)
    lock = _lock_path(index)
    with open(lock, "w") as fh:
        fh.write("12345")
    try:
        with pytest.raises(RuntimeError, match="active-stream lease"):
            rebuild_audio_index(spark, index)
    finally:
        os.remove(lock)


def test_rebuild_preserves_undecodable_clip_labels(spark, index):
    """A clip whose bytes never decode gets a singleton label from attach
    (attach labels EVERY batch row) but no sketch row; rebuild re-clusters
    from the sketch index, so without the carry-over guard its label row
    would silently vanish from the swapped-in labels table."""
    clips = synth_clips(spark, 12, seed=42)
    bad = spark.createDataFrame(
        [("clipXBAD0001", b"", 16000, 100, "pcm_s16le", "broken payload")],
        clips.schema,
    )
    labels, rows = attach_audio_batch(clips.unionByName(bad), index)
    _write_epoch(labels, index.labels_dir, 0, ["epoch"])
    write_audio_epoch(rows, index, "clip_id", 0)
    before = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert before["clipXBAD0001"] == "clipXBAD0001"  # labeled, singleton
    rebuild_audio_index(spark, index)
    after = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert after["clipXBAD0001"] == "clipXBAD0001"  # survives compaction
    assert len(after) == len(before)


def test_stream_lease_released_when_start_fails(spark, index, tmp_path):
    """A failed .start() (bad source path) must not leak the lease: a
    leaked lease blocks every later rebuild with a live-pid holder."""
    schema = "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
    with pytest.raises(Exception):
        run_audio_attach_stream(
            spark,
            str(tmp_path / "does_not_exist"),
            schema,
            index,
            str(tmp_path / "ckpt_fail"),
            available_now=True,
        )
    assert not os.path.exists(_lock_path(index)), "lease leaked on failed start"
