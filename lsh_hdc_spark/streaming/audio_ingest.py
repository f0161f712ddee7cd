"""Structured-Streaming incremental dedup on the AUDIO axis — the payload
twin of ingest.py's text axis (graft cell: pyspark x audio, BASELINE.json).

New arrivals attach by SOUND through the shared core in ingest.py (index
layout, greedy adopt, leases, crash-safe swap); what is specific to this
axis is:

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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.audio_dedup import (
    BUCKET_CAP,
    audio_candidate_pairs,
    audio_signatures,
    audio_verify_pairs,
)
from ..operators.pairs import _verify_join
from .ingest import (
    Axis,
    StreamIndex,
    _attach,
    _rebuild,
    _run_stream,
    _seed,
    _write_sig_epoch,
)

#: new-vs-index duplicate criterion: relative-L1 distance between stored
#: spectral profiles (see module docstring for the calibration).
SPEC_TOL = 0.01

#: default duplicate criterion for in-batch pairs (decoded-PCM SNR, dB) —
#: the BASELINE.json per-row invariant threshold, same as the batch path.
MIN_SNR_DB = 30.0

AUDIO_KEYS = ("keys", "key")


def _spec_distance(a, b):
    """Relative-L1 distance between two spectral-profile array columns,
    entirely JVM-side (zip_with + aggregate — no Python in the verify)."""
    l1 = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    tot = F.greatest(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x),
        F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x),
        F.lit(1e-300),
    )
    return l1 / tot


def _spec_energized(a, b):
    """Digital-silence guard (ADVICE r5): two all-zero profiles have
    _spec_distance 0 via the denominator floor, so equal-length silent
    clips would merge through every sketch path while the batch/in-batch
    SNR criterion (-inf on zero signal power) never merges them.  Require
    BOTH profiles to carry energy before a sketch distance may match —
    silent clips stay singletons on the sketch paths, matching the SNR
    verify's behavior."""
    return (F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x) > 0) & (
        F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x) > 0
    )


def _spec_match(a: Column, b: Column, spec_tol: float) -> tuple[Column, Column]:
    """(score, verified) for two (spec, n_samples) structs; the score is
    the negated spectral distance, so the closest match scores highest."""
    d = _spec_distance(a["spec"], b["spec"])
    ok = (
        (a["n_samples"] == b["n_samples"])
        & _spec_energized(a["spec"], b["spec"])
        & (d <= F.lit(spec_tol))
    )
    return -d, ok


def _sig_pairs(sigs: DataFrame, id_col: str, bucket_cap: int) -> DataFrame:
    fps = sigs.select(id_col, F.explode("keys").alias("key"))
    return audio_candidate_pairs(fps, id_col, bucket_cap)


def audio_sketch_edges(
    sigs: DataFrame,
    id_col: str = "clip_id",
    bucket_cap: int = BUCKET_CAP,
    spec_tol: float = SPEC_TOL,
) -> DataFrame:
    """(src, dst) duplicate edges over an acoustic-signature frame
    (id, keys, spec, n_samples) WITHOUT touching audio bytes: bucket pairs
    from the stored keys, spectral-distance verify on the stored profiles.
    Used by the rebuilds (audio and fused) — pass a MATERIALIZED `sigs` so
    the signature source is not re-scanned per self-join side."""
    side = sigs.select(id_col, F.struct("spec", "n_samples").alias("sk"))
    _, ok = _spec_match(F.col("sk_a"), F.col("sk_b"), spec_tol)
    return (
        _verify_join(_sig_pairs(sigs, id_col, bucket_cap), side, id_col)
        .where(ok)
        .select("src", "dst")
    )


def audio_axis(
    id_col: str,
    min_snr_db: float = MIN_SNR_DB,
    bucket_cap: int = BUCKET_CAP,
    spec_tol: float = SPEC_TOL,
) -> Axis:
    """The sound axis (module docstring)."""

    def batch_edges(sigs: DataFrame, batch: DataFrame) -> DataFrame:
        pairs = _sig_pairs(sigs, id_col, bucket_cap)
        return audio_verify_pairs(batch, pairs, id_col, min_snr_db).select("src", "dst")

    return Axis(
        sig_cols=("keys", "spec", "n_samples"),
        keys=AUDIO_KEYS,
        sign=lambda df: audio_signatures(df, id_col),
        batch_edges=batch_edges,
        sig_edges=lambda sigs: audio_sketch_edges(sigs, id_col, bucket_cap, spec_tol),
        fetch=("spec", "n_samples"),
        score=lambda n, i: _spec_match(n, i, spec_tol),
    )


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
    """Cluster a base corpus with the BATCH audio pipeline
    (operators/audio_dedup.py) and lay down the full sketch-index layout
    (epoch = SEED_EPOCH) — the batch -> streaming migration path.  Returns
    the labels."""
    from ..operators.audio_dedup import audio_dedup_clusters

    labels = audio_dedup_clusters(clips, id_col, min_snr_db, bucket_cap).select(
        id_col, "cluster_id"
    )
    axis = audio_axis(id_col, min_snr_db, bucket_cap)
    return _seed(clips, labels, id_col, [(axis, index)])


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
