"""Audio-axis near-duplicate detection (op 22 extension; the payload side
of the graft cell, BASELINE.json: pyspark x audio).

The transcript pipeline (plans/pipeline.py) finds near-dups by TEXT; this
module finds them by SOUND, with the same bucket -> verify -> connected-
components shape: a spectral-occupancy fingerprint buckets acoustically
identical clips, a pairwise decoded-PCM SNR pass verifies candidates
(>= 30 dB, the BASELINE.json per-row invariant threshold reused as the
duplicate criterion), and the shared CC operator labels clusters.

Fingerprint (stationary variant of the banded-spectrum fingerprints of
Haitsma & Kalker 2002, "A highly robust audio fingerprinting system"):

  - decode WAV -> int16 PCM (functions/audio.py offline codec);
  - one rfft over the whole clip, energy summed into N_BANDS equal-width
    frequency bands (clips here are stationary tone mixtures, so the
    time-framed sub-fingerprint stream of the paper collapses to one
    spectral profile; a production swap-in computes the framed stream and
    bands consecutive sub-fingerprints exactly like MinHash banding);
  - occupancy mask: band b is SET iff E[b] >= max(E) * 10^(THR_DB/10);
  - multi-probe on marginal bands: a band within +-MARGIN_DB/2 of the
    threshold is classified "marginal" and the clip emits one bucket key
    per marginal on/off combination (capped at 2^MAX_PROBE_BANDS keys).
    A near-dup whose additive noise nudges a band across the threshold
    therefore still collides with its original: for noise whose relative
    energy perturbation is << the margin, a band can cross between SET
    and CLEAR only by passing through the marginal zone, where BOTH
    variants are emitted — the same collision guarantee banding gives
    MinHash, without per-pair comparisons.

Bucket key = splitmix64 fold of (sr_hz, n_samples, mask): sample rate and
exact sample count are invariants of an additive-noise near-dup pair, so
they ride in the key for free discrimination (at 10^12 rows the length
term alone splits the keyspace ~10^4 ways before the mask's 2^32).

Scale shape (the 10^12-clip posture, mirroring PLANS.md §3 discipline):
the binary column crosses exactly TWO scans — the signature pass
(audio_signatures, pinned once by the clustering core) and one semi-join
fetch of the DISTINCT candidate ids' bytes (pinned before
the two pair-join references, so neither join side re-scans the table);
the bucket shuffle carries (clip_id, key) only; candidate pairs are
generated per bucket under a size cap with a drop census (never
silently, op 25's clause) by the helpers every axis shares
(``pairs._bucket_pairs``, ``pairs._verify_join``, ``pairs._bucket_census``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.audio import decode_clip, snr_db
from ..functions.hashing import GOLDEN, as_i64, mix64
from ..plans.pipeline import Axis, _axis_edges, _cluster, text_axis
from .pairs import _bucket_census, _bucket_pairs, _verify_join

N_BANDS = 32
#: band is SET iff its energy is within 20 dB of the loudest band
THR_DB = -20.0
#: total width (dB) of the marginal zone straddling the threshold
MARGIN_DB = 6.0
#: probe at most 2^MAX_PROBE_BANDS keys per clip; excess marginal bands
#: fall back to their raw threshold classification (residual miss odds are
#: P(>MAX marginal bands) * P(raw flip), both tiny — see module docstring)
MAX_PROBE_BANDS = 4
#: buckets above this size are dropped from pair generation (with census)
BUCKET_CAP = 512
#: duplicate criterion for decoded-PCM pairs (SNR, dB) — the BASELINE.json
#: per-row invariant threshold
MIN_SNR_DB = 30.0


def _power(pcm: np.ndarray) -> np.ndarray:
    """Power spectrum of one clip."""
    return np.abs(np.fft.rfft(pcm.astype(np.float64))) ** 2


def _band_power(power: np.ndarray, n_bands: int) -> np.ndarray:
    """n_bands equal-width band energies of a power spectrum, DC dropped
    (so silence maps to all-zero)."""
    spec = power[1:]
    if spec.size < n_bands:
        spec = np.pad(spec, (0, n_bands - spec.size))
    edges = np.linspace(0, spec.size, n_bands + 1).astype(np.int64)
    return np.add.reduceat(spec, edges[:-1])


def _mask_keys(
    pcm: np.ndarray, sr_hz: int, power: np.ndarray | None = None
) -> np.ndarray:
    """uint64 bucket keys for one clip: base occupancy mask plus one key
    per marginal on/off combination (multi-probe).  Pass the clip's
    `power` spectrum when it is already computed."""
    e = _band_power(_power(pcm) if power is None else power, N_BANDS)
    peak = float(e.max())
    if peak <= 0.0:  # digital silence: fingerprint carries length only
        masks = np.array([0], dtype=np.uint64)
    else:
        thr = peak * 10.0 ** (THR_DB / 10.0)
        half = 10.0 ** (MARGIN_DB / 20.0)  # +-MARGIN_DB/2 in power
        stable_set = e >= thr * half
        marginal = np.flatnonzero((e >= thr / half) & ~stable_set)
        base = np.uint64(0)
        for b in np.flatnonzero(stable_set):
            base |= np.uint64(1) << np.uint64(b)
        if marginal.size > MAX_PROBE_BANDS:
            # deterministic truncation by band index; dropped marginals
            # use their raw classification
            for b in marginal[MAX_PROBE_BANDS:]:
                if e[b] >= thr:
                    base |= np.uint64(1) << np.uint64(b)
            marginal = marginal[:MAX_PROBE_BANDS]
        m = marginal.size
        combos = np.arange(1 << m, dtype=np.uint64)
        masks = np.full(1 << m, base, dtype=np.uint64)
        for j, b in enumerate(marginal):
            masks |= ((combos >> np.uint64(j)) & np.uint64(1)) << np.uint64(b)
    n_samples = np.uint64(pcm.size)
    with np.errstate(over="ignore"):
        k = mix64(np.uint64(sr_hz) * GOLDEN + n_samples)
        return mix64(masks ^ k)


#: spectral-profile resolution for the streaming index's compact acoustic
#: sketch (audio_signatures).  128 bins of the power spectrum: fine enough
#: that unrelated tone mixtures are far apart (measured min relative-L1
#: distance 0.597 on the synth corpus) while -40 dB additive-noise
#: duplicates stay close (measured max 0.0018 over all 210 families).
SPEC_BINS = 128


def _decoded(pdf: pd.DataFrame, id_col: str):
    """(id, pcm, sr_hz) per clip of an Arrow batch that decodes to at least
    one sample; empty and sample-less payloads are skipped."""
    for cid, data, sr, codec in zip(
        pdf[id_col], pdf["bytes"], pdf["sr_hz"], pdf["codec"]
    ):
        if data is None or len(data) == 0:
            continue
        pcm, _ = decode_clip(bytes(data), str(codec))
        if pcm.size:
            yield cid, pcm, int(sr)


def audio_signatures(clips: DataFrame, id_col: str = "clip_id") -> DataFrame:
    """(id, keys: array<long>, spec: array<double>, n_samples: long) — one
    row per clip: the multi-probe bucket keys (_mask_keys) plus the
    SPEC_BINS-bin spectral profile, in ONE Arrow pass over the byte column.

    This is the audio twin of functions/sign.py::signed, the audio axis's
    sign: its keys feed the batch bucket pairs, and the whole row is what
    the streaming index needs to match and verify future arrivals, with
    the payload bytes left behind (the index stores ~1 KB of sketch per
    clip, never audio).  Derived from lsh_hdc/sign.py [M]-level
    semantics the same way the text signatures are."""

    def _sig(batches):
        for pdf in batches:
            ids, keys, specs, nsamp = [], [], [], []
            for cid, pcm, sr in _decoded(pdf, id_col):
                power = _power(pcm)
                ids.append(cid)
                keys.append(as_i64(_mask_keys(pcm, sr, power)))
                specs.append(_band_power(power, SPEC_BINS))
                nsamp.append(pcm.size)
            # object dtype is load-bearing for the list columns: a batch
            # where EVERY clip was skipped (all-undecodable) yields empty
            # plain lists, which pandas infers as float64 — and Arrow
            # cannot convert an empty float64 column to list<int64>/
            # list<double> (crashes the whole job on one bad batch)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="object"),
                    "keys": pd.Series(keys, dtype="object"),
                    "spec": pd.Series(specs, dtype="object"),
                    "n_samples": np.asarray(nsamp, dtype=np.int64),
                }
            )

    return clips.select(id_col, "bytes", "sr_hz", "codec").mapInPandas(
        _sig, f"{id_col} string, keys array<long>, spec array<double>, n_samples long"
    )


def audio_candidate_pairs(
    fps: DataFrame, id_col: str = "clip_id", bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """(src, dst) distinct candidate pairs from shared bucket keys
    (``pairs._bucket_pairs``).  Buckets above `bucket_cap` are excluded
    from pair generation — use audio_bucket_census to count what a cap
    drops (never silently)."""
    pairs = _bucket_pairs(fps, id_col, "key", bucket_cap)
    return pairs.select("src", "dst").distinct()


def audio_bucket_census(
    fps: DataFrame, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """(tier, n_buckets, n_rows, max_bucket) — bucket-size accounting for
    the cap (``pairs._bucket_census``; searched buckets are tier 'kept')."""
    return _bucket_census(fps, "key", [("kept", bucket_cap)])


def audio_verify_pairs(
    clips: DataFrame,
    pairs: DataFrame,
    id_col: str = "clip_id",
    min_snr_db: float = MIN_SNR_DB,
) -> DataFrame:
    """(src, dst, snr_db) edges whose decoded-PCM SNR clears the
    duplicate threshold.  The bytes of the DISTINCT candidate ids are
    extracted with one semi-join scan, decoded ONCE per id, and pinned
    (localCheckpoint) before the two pair-join references — the candidate
    subset is the dup-rate fraction of the corpus, so at 10^12 rows this
    is the stage you spill to a checkpoint table rather than re-scanning
    the full byte column per join side (production: write it to a temp
    Iceberg table; the plan shape is identical).  SNR is directional
    (ref = src side) and -inf for length mismatches, so unequal-length
    clips never verify."""
    cand_ids = (
        pairs.select(F.col("src").alias(id_col))
        .unionByName(pairs.select(F.col("dst").alias(id_col)))
        .distinct()
    )

    def _decode(batches):
        for pdf in batches:
            ids, pcms = [], []
            for cid, data, codec in zip(pdf[id_col], pdf["bytes"], pdf["codec"]):
                pcm, _ = decode_clip(bytes(data), str(codec))
                ids.append(cid)
                pcms.append(pcm)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="object"),
                    "pcm": pd.Series(pcms, dtype="object"),
                }
            )

    # decode ONCE per distinct candidate id, in the same pinned pass that
    # extracts the candidate subset (VERDICT r5 item 4): the pair joins
    # then carry array<smallint> PCM — identical payload bytes to the WAV
    # blob (2 B/sample) — and the verify kernel is pure numpy on decoded
    # samples, so a clip appearing in k pairs costs one decode instead of
    # k+1 wave-parse passes.
    side = (
        clips.join(cand_ids, id_col, "left_semi")
        .select(id_col, "bytes", "codec")
        .mapInPandas(_decode, f"{id_col} string, pcm array<smallint>")
        .localCheckpoint(eager=True)
    )
    j = _verify_join(pairs, side, id_col)

    def _snr(batches):
        for pdf in batches:
            vals = np.empty(len(pdf), dtype=np.float64)
            for i, (pa, pb) in enumerate(zip(pdf["pcm_a"], pdf["pcm_b"])):
                vals[i] = snr_db(
                    np.asarray(pa, dtype=np.int16), np.asarray(pb, dtype=np.int16)
                )
            out = pd.DataFrame(
                {"src": pdf["src"], "dst": pdf["dst"], "snr_db": vals}
            )
            yield out[out["snr_db"] >= min_snr_db]

    return j.mapInPandas(_snr, "src string, dst string, snr_db double")


#: new-vs-index duplicate criterion of the sketch paths: relative-L1
#: distance between stored spectral profiles (see
#: streaming/audio_ingest.py's module docstring for the calibration).
SPEC_TOL = 0.01

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
    """The sound axis of the clustering core (plans/pipeline.py): signed by
    audio_signatures; within a signed frame, bucket pairs from its keys
    verified by decoded-PCM SNR (the bytes are in hand); over stored
    signatures and in the index match, the spectral-profile verify."""

    def batch_edges(sigs: DataFrame, batch: DataFrame) -> DataFrame:
        pairs = _sig_pairs(sigs, id_col, bucket_cap)
        return audio_verify_pairs(batch, pairs, id_col, min_snr_db)

    return Axis(
        sig_cols=("keys", "spec", "n_samples"),
        keys=AUDIO_KEYS,
        sign=lambda df: audio_signatures(df, id_col),
        batch_edges=batch_edges,
        sig_edges=lambda sigs: audio_sketch_edges(sigs, id_col, bucket_cap, spec_tol),
        fetch=("spec", "n_samples"),
        score=lambda n, i: _spec_match(n, i, spec_tol),
    )


def audio_dedup_edges(
    clips: DataFrame,
    id_col: str = "clip_id",
    min_snr_db: float = MIN_SNR_DB,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """(src, dst, snr_db) verified audio near-dup edges — the audio axis's
    edge half of the clustering core, the twin of
    plans.pipeline.dedup_edges."""
    return _axis_edges(clips, audio_axis(id_col, min_snr_db, bucket_cap))[1]


def fused_dedup_clusters(
    clips: DataFrame,
    cfg=None,
    min_snr_db: float = MIN_SNR_DB,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Cross-modal OR-fusion: a pair is a duplicate if the TRANSCRIPT
    pipeline (shingle/MinHash/LSH/Jaccard) verifies it OR the AUDIO
    pipeline (spectral fingerprint + SNR) does; one shared CC over the
    union edge set labels clusters — the clustering core
    (plans/pipeline.py::_cluster) over the text and audio axes, the same
    OR-merge the text pipeline uses for substring edges.

    This catches what either modality alone misses: re-voiced clips with
    identical transcripts (text edge, no audio edge) and re-transcribed /
    mis-transcribed clips with identical audio (audio edge, no text
    edge).  Both union sides shuffle (src, dst) ids only.  Labels follow
    assign_clusters with min_support 1 and belong to `clips`' session."""
    from ..config import CLIPS

    cfg = cfg or CLIPS
    axes = [text_axis(cfg), audio_axis(cfg.id_col, min_snr_db, bucket_cap)]
    return _cluster(clips, cfg.id_col, axes)[0]


def audio_dedup_clusters(
    clips: DataFrame,
    id_col: str = "clip_id",
    min_snr_db: float = MIN_SNR_DB,
    bucket_cap: int = BUCKET_CAP,
    min_support: int = 1,
) -> DataFrame:
    """(clip_id, cluster_id, cluster_size) — full audio-axis dedup:
    signatures -> bucket pairs -> SNR verify -> connected components, the
    clustering core (plans/pipeline.py::_cluster) over the audio axis.
    Every input row is labeled; non-duplicates are singleton clusters of
    themselves (the text pipeline's labeling convention); the labels
    belong to `clips`' session."""
    axis = audio_axis(id_col, min_snr_db, bucket_cap)
    return _cluster(clips, id_col, [axis], min_support)[0]
