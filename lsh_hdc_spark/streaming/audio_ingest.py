"""Structured-Streaming incremental dedup on the AUDIO axis — the payload
twin of the text axis (graft cell: pyspark x audio, BASELINE.json).

New arrivals attach by SOUND through the shared core in ingest.py (index
layout, greedy adopt, leases, crash-safe swap); what is specific to this
axis (operators/audio_dedup.py::audio_axis, which the batch entries share)
is:

    sign            audio_signatures — ONE Arrow pass over the batch's byte
                    column: multi-probe bucket keys + SPEC_BINS spectral
                    profile (operators/audio_dedup.py)
    in-batch edges  bucket pairs + decoded-PCM SNR verify (bytes are in
                    hand for the batch, so the strong time-domain
                    criterion applies)
    match verify    relative-L1 distance between the new clip's profile
                    and the STORED profile <= SPEC_TOL, equal sample
                    count, both profiles energized; best is the lowest
                    distance
    rebuild edges   bucket pairs from the stored keys + the same spectral
                    verify (audio_sketch_edges; no re-read of audio bytes)

Why the index stores a sketch, not audio: the text index stores shingles_h
(derived, compact) rather than raw text; the audio index stores the
multi-probe keys plus a 128-bin power-spectrum profile (~1 KB/clip) rather
than PCM bytes.  Payload bytes therefore never enter any streaming plan or
index table — at 10^12 clips the index is sketch-sized, and the verify
join moves 128 doubles per CANDIDATE pair instead of re-fetching megabyte
payloads from blob storage.  The trade is criterion strength: in-batch
pairs verify with true SNR (>= 30 dB, the BASELINE.json invariant
threshold), new-vs-index pairs verify with spectral distance calibrated to
the same operating point (SPEC_TOL = 0.01; -30 dB residual noise perturbs
the profile by ~0.002 relative-L1, unrelated tone mixtures measure >= 0.597
on the synth corpus, duplicate families <= 0.0018 — a 5x/60x margin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.audio_dedup import (  # noqa: F401  (audio_sketch_edges: re-exported)
    AUDIO_KEYS,
    BUCKET_CAP,
    MIN_SNR_DB,
    SPEC_TOL,
    audio_axis,
    audio_sketch_edges,
)
from ..plans.pipeline import _cluster
from .ingest import StreamIndex, _attach, _rebuild, _run_stream, _seed, _write_sig_epoch


def write_audio_epoch(
    new_rows: DataFrame, index: StreamIndex, id_col: str, epoch: int
) -> None:
    """Append one epoch's labeled acoustic sketches to sig_dir + keys_dir
    (idempotent dynamic-overwrite, see ingest._write_epoch).  `new_rows`
    must be (id, keys, spec, n_samples, cluster_id)."""
    _write_sig_epoch(new_rows, index, id_col, epoch, AUDIO_KEYS)


def seed_audio_index(
    spark: SparkSession,
    clips: DataFrame,
    index: StreamIndex,
    id_col: str = "clip_id",
    min_snr_db: float = MIN_SNR_DB,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Cluster a base corpus with the BATCH audio pipeline (the clustering
    core over the audio axis, as operators/audio_dedup.py::
    audio_dedup_clusters) and lay down the full sketch-index layout
    (epoch = SEED_EPOCH) from the core's signatures, so every clip is
    signed once — the batch -> streaming migration path.  Returns the
    labels."""
    axis = audio_axis(id_col, min_snr_db, bucket_cap)
    labels, sigs = _cluster(clips, id_col, [axis])
    return _seed(labels.select(id_col, "cluster_id"), sigs, id_col, [(axis, index)])


def attach_audio_batch(
    batch: DataFrame,
    index: StreamIndex,
    id_col: str = "clip_id",
    min_snr_db: float = MIN_SNR_DB,
    bucket_cap: int = BUCKET_CAP,
    spec_tol: float = SPEC_TOL,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of incremental audio dedup: returns (labels,
    new_index_rows), the audio twin of ingest.attach_batch.  The batch's
    byte column is scanned exactly twice (the signature pass and the
    in-batch SNR verify's candidate fetch); the index contributes sketches
    only."""
    axis = audio_axis(id_col, min_snr_db, bucket_cap, spec_tol)
    labels, (rows,) = _attach(batch, id_col, [(axis, index)])
    return labels, rows


def run_audio_attach_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    index: StreamIndex,
    checkpoint_dir: str,
    id_col: str = "clip_id",
    available_now: bool = True,
) -> None:
    """Run the incremental audio ingest over a parquet file stream and
    block until the trigger drains (ingest.run_attach_stream semantics)."""
    _run_stream(
        spark, source_dir, schema, checkpoint_dir, id_col,
        [(audio_axis(id_col), index)], available_now,
    )


def rebuild_audio_index(
    spark: SparkSession,
    index: StreamIndex,
    id_col: str = "clip_id",
    bucket_cap: int = BUCKET_CAP,
    spec_tol: float = SPEC_TOL,
) -> None:
    """Offline compaction for greedy-attach drift on the audio axis:
    re-cluster the ENTIRE accumulated sketch index and swap corrected
    labels in (ingest.rebuild_index semantics) — audio bytes are never
    re-read.  Clips whose bytes never decoded have a label row but no
    sketch row; they keep their singleton labels."""
    axis = audio_axis(id_col, bucket_cap=bucket_cap, spec_tol=spec_tol)
    _rebuild(spark, id_col, [(axis, index)])
