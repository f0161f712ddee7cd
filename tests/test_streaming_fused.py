"""Cross-modal streaming attach (streaming/fused.py): a shared label space
fed through BOTH the transcript and audio indexes — each modality must
rescue arrivals the other cannot match, batch-incrementally; the fused
rebuild compacts greedy drift over the union edge set."""

import os

import pytest
from pyspark.sql import functions as F

from lsh_hdc_spark.config import CLIPS
from lsh_hdc_spark.sources.clips import synth_clips
from lsh_hdc_spark.streaming import (
    FusedStreamIndex,
    attach_fused_batch,
    rebuild_fused_index,
    run_fused_attach_stream,
    seed_fused_index,
    write_fused_epoch,
)
from lsh_hdc_spark.streaming.ingest import _lock_path, _write_epoch

N = 120  # 84 family rows (21 families of 4) + 36 singletons
N_FAM = 84


@pytest.fixture()
def index(tmp_path):
    return FusedStreamIndex.at(str(tmp_path / "fused"))


def _divergent_corpus(spark, n=N):
    """synth_clips with the fused-query divergence plan (mirrors
    __spark_entry__._fused_corpus at small n): every 5th family's
    duplicates get member-unique transcripts (audio must hold them);
    the first two singletons of every block of 10 get identical
    pair-unique transcripts over unrelated audio (text must weld them)."""
    clips = synth_clips(spark, n, seed=42)
    idx = F.substring("clip_id", 5, 8).cast("long")
    div = (idx < N_FAM) & (F.floor(idx / 4) % 5 == 0) & (idx % 4 != 0)
    pair = (idx >= N_FAM) & ((idx - N_FAM) % 10 < 2)
    j = F.floor((idx - N_FAM) / 10).cast("string")
    uniq = F.concat_ws(
        " ", *[F.concat(F.lit(f"d{c}x"), idx.cast("string")) for c in "abcd"]
    )
    paired = F.concat_ws(" ", *[F.concat(F.lit(f"p{c}x"), j) for c in "abcd"])
    return clips.withColumn(
        "transcript",
        F.when(div, uniq).when(pair, paired).otherwise(F.col("transcript")),
    )


def _attach_mod3(spark, index, n=N):
    clips = _divergent_corpus(spark, n)
    idx = F.substring("clip_id", 5, 8).cast("long")
    for k in range(3):
        b = clips.where(F.pmod(idx, F.lit(3)) == k)
        labels, t_rows, a_rows = attach_fused_batch(b, CLIPS, index)
        _write_epoch(labels, index.labels_dir, k, ["epoch"])
        write_fused_epoch(t_rows, a_rows, index, CLIPS.id_col, k)
    return {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }


def _greedy_root(i: int) -> int:
    """Arrival-order ground truth under the mod-3 batch split: families
    root at their first batch-0 member; planted singleton PAIRS (p, p+1 =
    first two of each block of 10 past N_FAM) root at whichever member
    arrives first (p unless the pair's block index j has j%3==2, where
    p ≡ 2 mod 3 arrives after p+1 ≡ 0); other singletons are themselves."""
    if i < N_FAM:
        s = (i // 4) * 4
        return s + ((3 - s % 3) % 3)
    j, r = divmod(i - N_FAM, 10)
    if r < 2:
        p = N_FAM + j * 10
        return p + 1 if (j % 3) == 2 else p
    return i


def test_fused_attach_both_modalities_rescue(spark, index):
    got = _attach_mod3(spark, index)
    assert len(got) == N
    for cid, label in got.items():
        i = int(cid[4:])
        assert label == f"clip{_greedy_root(i):08d}", cid


def test_fused_rebuild_canonicalizes(spark, index):
    _attach_mod3(spark, index)
    rebuild_fused_index(spark, CLIPS, index)
    got = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    # canonical from-scratch labels: min member — families (i//4)*4,
    # planted pairs p, other singletons themselves
    for cid, label in got.items():
        i = int(cid[4:])
        if i < N_FAM:
            root = (i // 4) * 4
        else:
            j, r = divmod(i - N_FAM, 10)
            root = N_FAM + j * 10 if r < 2 else i
        assert label == f"clip{root:08d}", cid


def test_fused_rebuild_crash_between_tables_recovers(
    spark, index, monkeypatch, crash_between_swaps
):
    """A fused rebuild that dies after its first table went live must not
    leave the other tables (the audio half, the shared labels) stale:
    stream-start recovery finishes every staged table of both axes."""
    from lsh_hdc_spark.streaming.ingest import _swap_marker, _verify_index_health

    _attach_mod3(spark, index, n=24)
    crash_between_swaps()
    with pytest.raises(OSError, match="simulated crash"):
        rebuild_fused_index(spark, CLIPS, index)
    monkeypatch.undo()

    _verify_index_health([index.text, index.audio])
    # at n=24, ids 0-15 form four families and 16-23 are singletons
    want = {
        f"clip{i:08d}": f"clip{(i // 4) * 4 if i < 16 else i:08d}" for i in range(24)
    }
    for d in (
        index.text.sig_dir,
        index.text.keys_dir,
        index.audio.sig_dir,
        index.audio.keys_dir,
        index.labels_dir,
    ):
        got = {
            r.clip_id: r.cluster_id
            for r in spark.read.parquet(d).select("clip_id", "cluster_id").collect()
        }
        assert got == want, d
        assert not os.path.exists(d + ".rebuild") and not os.path.exists(d + ".old")
    assert not os.path.exists(_swap_marker(index.labels_dir))


def test_fused_indexes_store_no_payloads(spark, index):
    _attach_mod3(spark, index, n=24)
    for d in (
        index.text.sig_dir,
        index.text.keys_dir,
        index.audio.sig_dir,
        index.audio.keys_dir,
        index.labels_dir,
    ):
        cols = spark.read.parquet(d).columns
        assert "bytes" not in cols and "transcript" not in cols, d


def test_fused_stream_drains_and_releases_lease(spark, index, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    clips = _divergent_corpus(spark, 24)
    idx = F.substring("clip_id", 5, 8).cast("long")
    clips.where(idx < 12).coalesce(1).write.mode("append").parquet(src)
    clips.where(idx >= 12).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    run_fused_attach_stream(
        spark, src, schema, CLIPS, index, str(tmp_path / "ckpt"), available_now=True
    )
    got = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert len(got) == 24
    roots = {}
    for cid, label in got.items():
        i = int(cid[4:])
        if i >= 16:  # singletons at n=24 (no planted pairs below idx 26)
            assert label == cid
            continue
        roots.setdefault(i // 4, label)
        assert roots[i // 4] == label, cid
    assert not os.path.exists(_lock_path(index.text))


def test_fused_seed_then_attach(spark, index):
    """Batch -> streaming migration: seed from the BATCH fused pipeline on
    the even ids, attach the odd ids as one micro-batch.  Divergent
    families (audio-only cohesion) and normal families alike must co-label
    with their seeded members."""
    clips = _divergent_corpus(spark, 48).localCheckpoint(eager=True)
    idx = F.substring("clip_id", 5, 8).cast("long")
    seed_fused_index(spark, clips.where(idx % 2 == 0), CLIPS, index)
    labels, t_rows, a_rows = attach_fused_batch(clips.where(idx % 2 == 1), CLIPS, index)
    _write_epoch(labels, index.labels_dir, 0, ["epoch"])
    write_fused_epoch(t_rows, a_rows, index, CLIPS.id_col, 0)
    got = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert len(got) == 48
    n_fam = 32  # (int(48*0.7) // 4) * 4
    for cid, label in got.items():
        i = int(cid[4:])
        root = (i // 4) * 4 if i < n_fam else i
        assert label == f"clip{root:08d}", cid


def test_fused_rebuild_refuses_while_stream_active(spark, index):
    _attach_mod3(spark, index, n=24)
    lock = _lock_path(index.text)
    with open(lock, "w") as fh:
        fh.write("12345")
    try:
        with pytest.raises(RuntimeError, match="active-stream lease"):
            rebuild_fused_index(spark, CLIPS, index)
    finally:
        os.remove(lock)


def test_fused_stream_holds_both_sub_index_leases(
    spark, index, tmp_path, monkeypatch
):
    """The fused stream must fence BOTH single-axis rebuilds: holding only
    the text lease would let rebuild_audio_index(index.audio) swap the
    SHARED labels table out from under the live stream."""
    import lsh_hdc_spark.streaming.ingest as ingest_mod
    from lsh_hdc_spark.streaming.fused import run_fused_attach_stream

    src = str(tmp_path / "src")
    os.makedirs(src)
    synth_clips(spark, 8, seed=42).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    seen = []
    orig = ingest_mod._attach

    def _spy(batch, id_col, parts):
        (_, text_ix), (_, audio_ix) = parts
        seen.append(
            (
                os.path.exists(_lock_path(text_ix)),
                os.path.exists(_lock_path(audio_ix)),
            )
        )
        return orig(batch, id_col, parts)

    monkeypatch.setattr(ingest_mod, "_attach", _spy)
    run_fused_attach_stream(
        spark, src, schema, CLIPS, index, str(tmp_path / "ckpt_lease"),
        available_now=True,
    )
    monkeypatch.undo()
    assert seen and all(t and a for t, a in seen), seen
    assert not os.path.exists(_lock_path(index.text))
    assert not os.path.exists(_lock_path(index.audio))


def test_fused_rebuild_merges_audio_only_id(spark, index, tmp_path):
    """An id present in the AUDIO sig table but absent from the text one
    (e.g. its text signature epoch was lost) must still be a CC vertex in
    the fused rebuild: its audio edges have to merge it into its family,
    not be silently discarded while the carry-over keeps a stale label."""
    from lsh_hdc_spark.streaming.audio_ingest import write_audio_epoch as _wae
    from lsh_hdc_spark.streaming.fused import rebuild_fused_index

    clips = synth_clips(spark, 12, seed=42)
    labels, t_rows, a_rows = attach_fused_batch(clips, CLIPS, index)
    _write_epoch(labels, index.labels_dir, 0, ["epoch"])
    write_fused_epoch(t_rows, a_rows, index, CLIPS.id_col, 0)

    # clone clip00000000's audio sketch under a new id, write it to the
    # AUDIO sub-index only (no text sig row), labeled as its own singleton
    # — the audio edge (identical spec) is the only thing that can merge it
    ghost = "clipZAUD0001"
    donor = (
        spark.read.parquet(index.audio.sig_dir)
        .where(F.col("clip_id") == "clip00000000")
        .select(F.lit(ghost).alias("clip_id"), "keys", "spec", "n_samples",
                F.lit(ghost).alias("cluster_id"))
    )
    _wae(donor, index.audio, "clip_id", 1)
    _write_epoch(donor.select("clip_id", "cluster_id"), index.labels_dir, 1, ["epoch"])

    rebuild_fused_index(spark, CLIPS, index)
    got = {
        r.clip_id: r.cluster_id
        for r in spark.read.parquet(index.labels_dir).collect()
    }
    assert got[ghost] == got["clip00000000"], (
        "audio-only id must merge into its family via its audio edge"
    )
    assert len(got) == 13
