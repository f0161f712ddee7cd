"""Cross-modal streaming incremental dedup — the streaming twin of
operators/audio_dedup.py::fused_dedup_clusters (graft cell: pyspark x
audio, axes A+B fused).

The shared core in ingest.py run over BOTH axes: a micro-batch's in-batch
edges are the union of transcript and audio edges (one CC), its index
match is the union of the best text match and the best audio match (per
in-batch cluster, adopt the smallest matched label; greedy, never merges),
and its append writes the text signatures and the acoustic sketches,
labeled identically, plus one shared labels sink.

This catches at attach time what either single-axis stream misses: a
re-voiced arrival (same transcript, unrelated audio) adopts through the
text index; a re-transcribed arrival (same audio, rewritten transcript)
adopts through the audio index.  An arrival matching text-cluster X and
audio-cluster Y adopts min(X, Y) and leaves the other intact;
rebuild_fused_index re-clusters over the union edge set of the stored
text signatures + audio sketches (no payload re-read) and swaps
corrected labels into all five tables in one marker-guarded swap.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..config import DedupConfig
from ..operators.audio_dedup import BUCKET_CAP, MIN_SNR_DB, SPEC_TOL, audio_axis
from ..plans.pipeline import _cluster, text_axis
from .audio_ingest import write_audio_epoch
from .ingest import (
    StreamIndex,
    _attach,
    _rebuild,
    _run_stream,
    _seed,
    write_index_epoch,
)


@dataclass(frozen=True)
class FusedStreamIndex:
    """Five-table fused index: the text sub-index (signatures + band keys),
    the audio sub-index (sketches + spectral keys), and ONE shared labels
    sink (`labels_dir`) they both carry consistently.  The sub-indexes'
    own labels_dir fields point at the shared sink."""

    text: StreamIndex
    audio: StreamIndex

    @classmethod
    def at(cls, base: str) -> "FusedStreamIndex":
        labels = f"{base}/labels"
        return cls(
            text=StreamIndex(f"{base}/text_sig", labels, f"{base}/text_keys"),
            audio=StreamIndex(f"{base}/audio_sig", labels, f"{base}/audio_keys"),
        )

    @property
    def labels_dir(self) -> str:
        return self.text.labels_dir


def _parts(
    cfg: DedupConfig,
    index: FusedStreamIndex,
    min_snr_db: float = MIN_SNR_DB,
    bucket_cap: int = BUCKET_CAP,
    spec_tol: float = SPEC_TOL,
):
    return [
        (text_axis(cfg), index.text),
        (audio_axis(cfg.id_col, min_snr_db, bucket_cap, spec_tol), index.audio),
    ]


def write_fused_epoch(
    text_rows: DataFrame,
    audio_rows: DataFrame,
    index: FusedStreamIndex,
    id_col: str,
    epoch: int,
) -> None:
    """Append one epoch's labeled signatures to BOTH sub-indexes
    (idempotent dynamic-overwrite each, see ingest._write_epoch)."""
    write_index_epoch(text_rows, index.text, id_col, epoch)
    write_audio_epoch(audio_rows, index.audio, id_col, epoch)


def seed_fused_index(
    spark: SparkSession,
    clips: DataFrame,
    cfg: DedupConfig,
    index: FusedStreamIndex,
    min_snr_db: float = MIN_SNR_DB,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Cluster a base corpus with the BATCH cross-modal pipeline (the
    clustering core over the text and audio axes, as
    operators/audio_dedup.py::fused_dedup_clusters) and lay down both
    sub-index layouts plus the shared labels sink (epoch = SEED_EPOCH)
    from the core's signatures, so each axis signs the corpus once — the
    batch -> streaming migration path.  Returns the labels."""
    parts = _parts(cfg, index, min_snr_db, bucket_cap)
    labels, sigs = _cluster(clips, cfg.id_col, [ax for ax, _ in parts])
    return _seed(labels.select(cfg.id_col, "cluster_id"), sigs, cfg.id_col, parts)


def attach_fused_batch(
    batch: DataFrame,
    cfg: DedupConfig,
    index: FusedStreamIndex,
    min_snr_db: float = MIN_SNR_DB,
    bucket_cap: int = BUCKET_CAP,
    spec_tol: float = SPEC_TOL,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One micro-batch of cross-modal incremental dedup: returns (labels,
    text_index_rows, audio_index_rows).  Pure batch logic — unit-testable
    outside a stream and reusable from foreachBatch.  The batch's byte
    column is scanned by the audio signature pass and the in-batch SNR
    verify only; neither index contributes anything heavier than sketches."""
    parts = _parts(cfg, index, min_snr_db, bucket_cap, spec_tol)
    labels, (text_rows, audio_rows) = _attach(batch, cfg.id_col, parts)
    return labels, text_rows, audio_rows


def run_fused_attach_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    cfg: DedupConfig,
    index: FusedStreamIndex,
    checkpoint_dir: str,
    available_now: bool = True,
) -> None:
    """Run the cross-modal incremental ingest over a parquet file stream
    and block until the trigger drains (checkpointed + idempotent epoch
    overwrites).  The stream lease is held on BOTH sub-indexes: the fused
    rebuild checks both, and holding both also fences a caller who runs the
    single-axis rebuild_audio_index / rebuild_index directly against a
    fused sub-index — either would swap the SHARED labels table out from
    under the live stream."""
    _run_stream(
        spark, source_dir, schema, checkpoint_dir, cfg.id_col,
        _parts(cfg, index), available_now,
    )


def rebuild_fused_index(
    spark: SparkSession,
    cfg: DedupConfig,
    index: FusedStreamIndex,
    bucket_cap: int = BUCKET_CAP,
    spec_tol: float = SPEC_TOL,
) -> None:
    """Offline cross-modal compaction: re-cluster the ENTIRE accumulated
    index over the UNION of text edges (stored shingles, Jaccard verify)
    and audio edges (stored sketches, spectral verify) and swap corrected
    labels into all five tables — no payload column is ever re-read.
    Merges everything greedy attach stranded, through either modality."""
    parts = _parts(cfg, index, bucket_cap=bucket_cap, spec_tol=spec_tol)
    _rebuild(spark, cfg.id_col, parts)
