"""Audio-axis near-dup detection (operators/audio_dedup.py).

The synthesized corpus (sources/clips.py) plants 4-member families whose
duplicates are the original PCM plus -40 dB noise, so ground truth is id
arithmetic (true_family) and the tests assert EXACT cluster recovery —
recall and precision 1.0 — plus the fingerprint/bucket/verify invariants
the recovery rests on.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_hdc_spark.functions.audio import pcm16_to_wav
from lsh_hdc_spark.operators.audio_dedup import (
    MAX_PROBE_BANDS,
    _mask_keys,
    audio_bucket_census,
    audio_candidate_pairs,
    audio_dedup_clusters,
    audio_signatures,
    audio_verify_pairs,
)
from lsh_hdc_spark.sources.clips import synth_clips, true_family


def _fingerprints(clips):
    """(clip_id, key) — one row per multi-probe bucket key of a clip."""
    return audio_signatures(clips).select("clip_id", F.explode("keys").alias("key"))


def _expected_labels(n):
    out = {}
    for i in range(n):
        f = true_family(i, n)
        out[f"clip{i:08d}"] = f"clip{(f * 4 if f >= 0 else i):08d}"
    return out


def test_end_to_end_matches_ground_truth(spark):
    n = 200
    clips = synth_clips(spark, n, seed=42)
    got = {
        r.clip_id: (r.cluster_id, r.cluster_size)
        for r in audio_dedup_clusters(clips).collect()
    }
    exp = _expected_labels(n)
    assert len(got) == n
    for cid, root in exp.items():
        size = 4 if root != cid or any(v == cid for k, v in exp.items() if k != cid) else 1
        assert got[cid] == (root, size), cid


def test_family_members_share_a_bucket_key(spark):
    n = 80
    fps = _fingerprints(synth_clips(spark, n, seed=7)).collect()
    keys = {}
    for r in fps:
        keys.setdefault(r.clip_id, set()).add(r.key)
    for i in range(n):
        f = true_family(i, n)
        if f < 0 or i % 4 == 0:
            continue
        orig, dup = f"clip{f * 4:08d}", f"clip{i:08d}"
        assert keys[orig] & keys[dup], (orig, dup)


def test_multi_probe_fanout_bounded(spark):
    fps = (
        _fingerprints(synth_clips(spark, 120, seed=3))
        .groupBy("clip_id")
        .count()
        .agg(F.max("count").alias("mx"), F.min("count").alias("mn"))
        .first()
    )
    assert 1 <= fps.mn and fps.mx <= (1 << MAX_PROBE_BANDS)


def test_verify_rejects_cross_family_pairs(spark):
    """Force a cross-family candidate pair; SNR must reject it while a
    true dup pair passes."""
    n = 8  # two families
    clips = synth_clips(spark, n, seed=42)
    pairs = spark.createDataFrame(
        [("clip00000000", "clip00000001"), ("clip00000000", "clip00000004")],
        "src string, dst string",
    )
    kept = {
        (r.src, r.dst): r.snr_db
        for r in audio_verify_pairs(clips, pairs).collect()
    }
    assert ("clip00000000", "clip00000001") in kept
    assert kept[("clip00000000", "clip00000001")] >= 30.0
    assert ("clip00000000", "clip00000004") not in kept


def test_bucket_cap_drops_with_census(spark):
    """Clone one clip's WAV 9 times: with bucket_cap=5 the 10-row bucket
    lands in the dropped tier and yields no pairs — but the census says
    so (never silently)."""
    base = synth_clips(spark, 4, seed=42).where(
        F.col("clip_id") == "clip00000000"
    ).first()
    rows = [
        (f"c{i}", bytes(base.bytes), base.sr_hz, base.dur_ms, "pcm_s16le", "t")
        for i in range(10)
    ]
    clips = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    fps = _fingerprints(clips).localCheckpoint(eager=True)
    census = {r.tier: r for r in audio_bucket_census(fps, bucket_cap=5).collect()}
    assert "dropped" in census and census["dropped"].max_bucket == 10
    assert audio_candidate_pairs(fps, bucket_cap=5).count() == 0
    # default cap keeps them: 10 identical clips -> full C(10,2) pair set
    assert audio_candidate_pairs(fps).count() == 45


def test_silence_and_degenerate_payloads(spark):
    """Digital silence fingerprints by length; empty bytes emit no keys;
    every row still gets a label (singletons of themselves)."""
    silence = pcm16_to_wav(np.zeros(1600, dtype=np.int16), 16000)
    rows = [
        ("s1", silence, 16000, 100, "pcm_s16le", "a"),
        ("s2", silence, 16000, 100, "pcm_s16le", "b"),
        ("e1", b"", 16000, 100, "pcm_s16le", "c"),
    ]
    clips = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    out = {r.clip_id: r.cluster_id for r in audio_dedup_clusters(clips).collect()}
    # identical silence = exact duplicates (SNR +inf) -> one cluster
    assert out == {"s1": "s1", "s2": "s1", "e1": "e1"}


def test_mask_keys_noise_invariance():
    """The multi-probe guarantee, unit level: base PCM vs -40 dB-noised
    copy share at least one key, across many random tone mixtures."""
    rng = np.random.default_rng(11)
    for trial in range(25):
        sr = 16000
        n = int(rng.integers(3200, 16000))
        t = np.arange(n) / sr
        sig = np.zeros(n)
        for _ in range(int(rng.integers(2, 5))):
            sig += np.sin(2 * np.pi * rng.uniform(80, 7800) * t + rng.uniform(0, 6.28))
        pcm = np.clip(sig * 8000, -32768, 32767).astype(np.int16)
        rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2))) or 1.0
        noisy = np.clip(
            pcm + rng.normal(0, rms * 1e-2, n), -32768, 32767
        ).astype(np.int16)  # -40 dB
        a = set(_mask_keys(pcm, sr).tolist())
        b = set(_mask_keys(noisy, sr).tolist())
        assert a & b, trial


def test_plan_bytes_cross_exactly_two_scans(spark, tmp_path):
    """Scale-shape invariant from the module docstring: reading from
    parquet, the byte column appears in exactly TWO scans across the
    whole job — the signature pass and the candidate-bytes semi-join
    fetch (both run inside the fetch's eager pin, before CC; the FINAL
    labeling plan must contain no byte-bearing scan at all)."""
    path = str(tmp_path / "clips")
    synth_clips(spark, 40, seed=5).write.mode("overwrite").parquet(path)
    out = audio_dedup_clusters(spark.read.parquet(path))
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    schemas = [
        ln.split("ReadSchema:", 1)[1].strip()
        for ln in plan.splitlines()
        if "ReadSchema:" in ln
    ]
    assert all("bytes" not in s for s in schemas), plan
    assert out.count() == 40


def _divergent_corpus(spark, n=100):
    """Small twin of the harness _fused_corpus: every 5th family's dup
    members get member-unique transcripts (no text edges); the first two
    singletons of each block of 10 share a pair-unique transcript."""
    nf = (int(n * 0.7) // 4) * 4
    clips = synth_clips(spark, n, seed=42)
    idx = F.substring("clip_id", 5, 8).cast("long")
    div = (idx < nf) & (F.floor(idx / 4) % 5 == 0) & (idx % 4 != 0)
    pair = (idx >= nf) & ((idx - nf) % 10 < 2)
    j = F.floor((idx - nf) / 10).cast("string")
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"d{c}x"), idx.cast("string")) for c in "abcd"]
    )
    paired = F.concat_ws(" ", *[F.concat(F.lit(f"p{c}x"), j) for c in "abcd"])
    return (
        clips.withColumn(
            "transcript",
            F.when(div, uniq).when(pair, paired).otherwise(F.col("transcript")),
        ),
        nf,
    )


def test_fused_dedup_rescues_both_modalities(spark):
    """OR-fusion ground truth; and each single modality demonstrably
    FAILS on the planted divergence, so the fusion is non-vacuous."""
    from lsh_hdc_spark.config import CLIPS
    from lsh_hdc_spark.operators.audio_dedup import fused_dedup_clusters
    from lsh_hdc_spark.plans.pipeline import run_pipeline

    n = 100
    clips, nf = _divergent_corpus(spark, n)

    def expected(i):
        if i < nf:
            return (i // 4) * 4, 4
        if (i - nf) % 10 < 2:
            return nf + ((i - nf) // 10) * 10, 2
        return i, 1

    got = {
        r.clip_id: (r.cluster_id, r.cluster_size)
        for r in fused_dedup_clusters(clips).collect()
    }
    for i in range(n):
        root, sz = expected(i)
        assert got[f"clip{i:08d}"] == (f"clip{root:08d}", sz), i

    # text-only: the divergent families (fam % 5 == 0) must SPLIT
    text = {
        r.clip_id: r.cluster_id for r in run_pipeline(clips, CLIPS).collect()
    }
    assert text["clip00000001"] != text["clip00000000"]
    # audio-only: the welded singleton pair must stay apart
    audio = {r.clip_id: r.cluster_id for r in audio_dedup_clusters(clips).collect()}
    a, b = f"clip{nf:08d}", f"clip{nf + 1:08d}"
    assert audio[a] != audio[b]
    # ...and each single modality still agrees with fusion everywhere the
    # planted divergence is absent
    for i in range(n):
        if i < nf and (i // 4) % 5 != 0:
            root, _ = expected(i)
            assert text[f"clip{i:08d}"] == f"clip{root:08d}"
            assert audio[f"clip{i:08d}"] == f"clip{root:08d}"
